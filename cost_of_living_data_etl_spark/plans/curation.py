"""Pretraining-corpus curation operators: published rule-based and
importance-based document selection.

Published techniques every large-scale LM data pipeline runs between
raw crawl and tokenizer, each as a native-expression Catalyst plan:

- **Gopher quality rules** (Rae et al. 2021, "Scaling Language Models",
  Appendix A1.1): the reference rule set for cheap document filtering —
  word-count bounds, mean-word-length bounds, symbol-to-word ratio,
  alphabetic-word fraction, required-stopword presence. Reported here
  as a per-source rule-rejection audit (which rule fires how often),
  the report a curation run reviews before committing a filter config.
- **DSIR** (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling"): hashed-bigram importance weights
  ``w(x) = Σ_b c_b(x)·(ln p_target[b] − ln p_raw[b])`` scoring every
  raw document by how target-domain-like its n-gram profile is.
- **Character-trigram entropy**: the distribution-level gibberish /
  boilerplate detector (low entropy → repeated boilerplate, near-max
  entropy → encrypted/random noise) run at character level, the
  complement of the word-level unigram surprisal score
  (operators/textstats.py::q_unigram_surprisal).
- **BPE merge-candidate counting** (Sennrich et al. 2016): the
  frequency-weighted adjacent-pair counts that pick a byte-pair
  tokenizer's next merge — the corpus-scale inner loop of tokenizer
  training.

All of these are single text passes whose shuffles carry only short keys
and counts (never document text), so they scale like the rest of the
dedup/textstats families: 100 TB in, map-side feature extraction,
vocab- or bucket-bounded aggregation out.

Mixture design and LM-based filtering live here too: the bigram-LM
perplexity score (`lm_scored_docs`, shared by
`q_bigram_lm_perplexity` and `q_ppl_filter_retention_curve`),
n-gram novelty and boilerplate coverage per source, quality-decile
mix, language entropy, effective source count, pairwise unigram JSD
and temperature-scaled mixture weights.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.operators.dedup import (
    _SHINGLES_FROM_WS,
    SHINGLES_SQL,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A1.1)
# ---------------------------------------------------------------------------
# The published bounds. Line-shape rules (bullet-start / ellipsis-end
# line fractions) are omitted: the fixture corpus is single-line by
# construction (0 docs contain a newline at any SF), so those two rules
# are degenerate here; the five below are the ones with signal.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# The paper requires ≥2 of the eight; the fixture corpus's synthetic
# vocabulary contains exactly ONE of them ("the"), so the published
# threshold degenerates to reject-all here — the audit would carry no
# signal. 1 keeps the rule live on this corpus (docs with vs without
# "the"); a production config restores 2.
GOPHER_MIN_STOPWORDS = 1

# whitespace words of the trimmed text; empty text → empty array
# (split('') would yield [''], a phantom 1-token document)
_WS_SPARK = (
    "CASE WHEN length(trim(text)) = 0 THEN array() "
    "ELSE split(trim(text), '\\\\s+') END"
)
_WS_SQL = (
    "CASE WHEN length(trim(text)) = 0 THEN [] "
    "ELSE string_split_regex(trim(text), '\\s+') END"
)

_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)

_GOPHER_ORACLE = f"""
WITH feat AS (
    SELECT
        source,
        len(ws)                                                    AS n_words,
        length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0
            / greatest(len(ws), 1)                                 AS mean_word_len,
        (length(regexp_extract_all(text, '#'))
         + length(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0
            / greatest(len(ws), 1)                                 AS symbol_ratio,
        len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
            / greatest(len(ws), 1)                                 AS alpha_frac,
        len(list_filter([{_GOPHER_STOP_SQL}],
                        s -> list_contains(list_transform(ws, w -> lower(w)), s)))
                                                                   AS n_stop
    FROM (SELECT source, text, {_WS_SQL} AS ws FROM documents)
),
flags AS (
    SELECT
        source,
        (n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS}) AS f_words,
        (mean_word_len < {GOPHER_MIN_MEAN_WORD_LEN}
         OR mean_word_len > {GOPHER_MAX_MEAN_WORD_LEN})                AS f_wordlen,
        (symbol_ratio > {GOPHER_MAX_SYMBOL_RATIO})                     AS f_symbol,
        (alpha_frac < {GOPHER_MIN_ALPHA_WORD_FRAC})                    AS f_alpha,
        (n_stop < {GOPHER_MIN_STOPWORDS})                              AS f_stop
    FROM feat
)
SELECT
    source,
    CAST(count(*) AS BIGINT)                        AS n_docs,
    CAST(count(*) FILTER (f_words) AS BIGINT)       AS n_fail_word_count,
    CAST(count(*) FILTER (f_wordlen) AS BIGINT)     AS n_fail_word_length,
    CAST(count(*) FILTER (f_symbol) AS BIGINT)      AS n_fail_symbol_ratio,
    CAST(count(*) FILTER (f_alpha) AS BIGINT)       AS n_fail_alpha_words,
    CAST(count(*) FILTER (f_stop) AS BIGINT)        AS n_fail_stopwords,
    CAST(count(*) FILTER (NOT (f_words OR f_wordlen OR f_symbol
                               OR f_alpha OR f_stop)) AS BIGINT) AS n_pass,
    count(*) FILTER (NOT (f_words OR f_wordlen OR f_symbol
                          OR f_alpha OR f_stop)) * 1.0 / count(*) AS retention
FROM flags
GROUP BY source
"""


@register(
    "q_gopher_quality_rules",
    oracle=_GOPHER_ORACLE,
    tags=("text", "quality", "curation", "training-data"),
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based document filter audit (Rae et al. 2021,
    A1.1): per source, how many documents each rule rejects and what
    fraction survives all five — the dry-run report reviewed before a
    filter config is committed to a corpus build.

    Rules: word count in [{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}],
    mean word length in [3, 10], symbol-to-word ratio ('#' and '...')
    ≤ 0.1, ≥ 80% words containing an alphabetic character, ≥ 2 of the
    eight Gopher stopwords present.

    Plan shape: one projection computes every feature in a single
    text pass (each regex runs exactly once per row — features are
    materialized BEFORE the aggregate, same discipline as
    q_text_quality_by_source), then a 20-group conditional aggregate.
    Nothing but (source, 5 bools) crosses the Exchange: curation-audit
    cost at 100 TB is the parquet scan, full stop. The ratio
    thresholds compare single-division doubles — one IEEE op from
    exact integers on both engines, so the booleans (and therefore
    every count) are bit-identical; ``retention`` is one further
    division of exact counts.
    """
    ws = F.expr(_WS_SPARK)
    n_words = F.size(ws)
    feat = load_table(spark, sf_dir, "documents").select(
        "source",
        n_words.alias("n_words"),
        (
            F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
            / F.greatest(n_words, F.lit(1))
        ).alias("mean_word_len"),
        (
            (
                F.regexp_count(F.col("text"), F.lit("#"))
                + F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
            )
            / F.greatest(n_words, F.lit(1))
        ).alias("symbol_ratio"),
        (
            F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
            / F.greatest(n_words, F.lit(1))
        ).alias("alpha_frac"),
        F.size(
            F.filter(
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
                lambda s: F.array_contains(
                    F.transform(ws, lambda w: F.lower(w)), s
                ),
            )
        ).alias("n_stop"),
    )
    flags = feat.select(
        "source",
        (
            (F.col("n_words") < GOPHER_MIN_WORDS)
            | (F.col("n_words") > GOPHER_MAX_WORDS)
        ).alias("f_words"),
        (
            (F.col("mean_word_len") < GOPHER_MIN_MEAN_WORD_LEN)
            | (F.col("mean_word_len") > GOPHER_MAX_MEAN_WORD_LEN)
        ).alias("f_wordlen"),
        (F.col("symbol_ratio") > GOPHER_MAX_SYMBOL_RATIO).alias("f_symbol"),
        (F.col("alpha_frac") < GOPHER_MIN_ALPHA_WORD_FRAC).alias("f_alpha"),
        (F.col("n_stop") < GOPHER_MIN_STOPWORDS).alias("f_stop"),
    )
    fails = (
        F.col("f_words")
        | F.col("f_wordlen")
        | F.col("f_symbol")
        | F.col("f_alpha")
        | F.col("f_stop")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if("f_words").alias("n_fail_word_count"),
        F.count_if("f_wordlen").alias("n_fail_word_length"),
        F.count_if("f_symbol").alias("n_fail_symbol_ratio"),
        F.count_if("f_alpha").alias("n_fail_alpha_words"),
        F.count_if("f_stop").alias("n_fail_stopwords"),
        F.count_if(~fails).alias("n_pass"),
        (F.count_if(~fails) / F.count(F.lit(1))).alias("retention"),
    )


# ---------------------------------------------------------------------------
# DSIR hashed-bigram importance weights (Xie et al. 2023)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256  # hashed feature dimension B
DSIR_TARGET_LANG = "en"  # the "target domain" slice
DSIR_TOPK = 25

# md5-prefix bucketing, the same 15-hex-digit trick the dedup /
# sampling families pin on both engines (15 hex < 2^60 — no int64
# overflow, no sign issues)
_BUCKET_SPARK = (
    f"cast(conv(substring(md5(bigram), 1, 15), 16, 10) AS BIGINT) % {DSIR_BUCKETS}"
)
_BUCKET_SQL = (
    f"CAST(('0x' || substr(md5(bigram), 1, 15)) AS BIGINT) % {DSIR_BUCKETS}"
)

# lowercased word tokens → adjacent-pair bigrams (identical extraction
# on both engines; see operators/textstats.py::lower_word_array)
_DSIR_WORDS_SPARK = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
_DSIR_WORDS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_DSIR_BIGRAMS_SPARK = (
    "zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)), "
    "slice(ws, 2, greatest(size(ws) - 1, 0)), "
    "(a, b) -> concat(a, ' ', b))"
)
_DSIR_BIGRAMS_SQL = (
    "list_transform(range(1, greatest(length(ws), 1)), "
    "i -> ws[i] || ' ' || ws[i + 1])"
)

_DSIR_ORACLE = f"""
WITH docs_ws AS (
    SELECT doc_id, lang, {_DSIR_WORDS_SQL} AS ws FROM documents
),
occ AS (
    SELECT doc_id, lang, {_BUCKET_SQL} AS bucket
    FROM (
        SELECT doc_id, lang, unnest({_DSIR_BIGRAMS_SQL}) AS bigram
        FROM docs_ws
    )
),
dist AS (
    SELECT bucket,
           count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS c_t,
           count(*)                                      AS c_r
    FROM occ GROUP BY bucket
),
tot AS (
    SELECT sum(c_t) AS t_total, sum(c_r) AS r_total FROM dist
),
ratio AS (
    SELECT bucket,
           ln((c_t + 1.0) / (t_total + {DSIR_BUCKETS}))
           - ln((c_r + 1.0) / (r_total + {DSIR_BUCKETS})) AS log_ratio
    FROM dist, tot
),
doc_bucket AS (
    SELECT doc_id, bucket, count(*) AS cnt FROM occ GROUP BY doc_id, bucket
),
weights AS (
    SELECT d.doc_id,
           list_reduce(list_sort(list(d.cnt * r.log_ratio)),
                       (a, b) -> a + b)         AS weight,
           CAST(count(*) AS BIGINT)             AS n_buckets
    FROM doc_bucket d JOIN ratio r USING (bucket)
    GROUP BY d.doc_id
)
SELECT doc_id, weight, n_buckets
FROM weights
ORDER BY weight DESC, doc_id
LIMIT {DSIR_TOPK}
"""


@register(
    "q_dsir_importance_topk",
    oracle=_DSIR_ORACLE,
    tags=("text", "curation", "importance-sampling", "training-data"),
)
def q_dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every raw
    document by how target-domain-like its hashed-bigram profile is —
    ``w(x) = Σ_b c_b(x)·(ln p̂_target[b] − ln p̂_raw[b])`` with
    Laplace-smoothed bucket distributions over B={DSIR_BUCKETS}
    hashed-bigram features; target slice = lang-'{DSIR_TARGET_LANG}'
    documents. Emits the top-{DSIR_TOPK} docs by weight — the ones
    importance resampling would draw first. Documents with < 2 word
    tokens have no bigram features and are out of scope (they carry
    no evidence either way).

    Plan shape (the DSIR paper's map-reduce layout, expressed in
    Catalyst): one text pass builds bigrams and hashes them to bucket
    ids IN the scan projection, so only (doc_id, bucket) pairs ever
    reach an Exchange — text and bigram strings stay map-side, the
    same no-strings-in-any-Exchange contract the setsim/minhash
    families pin. The two distributions come from ONE conditional
    aggregate over {DSIR_BUCKETS} groups; the 256-row log-ratio table
    broadcasts back; per-doc weights are a (doc_id, bucket, cnt)
    aggregate joined to that broadcast. At 100 TB: the only
    corpus-scale shuffle carries (doc_id, bucket, cnt) triples, and
    the final top-k is TakeOrderedAndProject (per-partition heaps, no
    global sort).

    Float determinism: per-doc weight folds cnt·log_ratio in sorted
    order from 0.0 on both engines (det_sum ≡ list_reduce∘list_sort)
    — bit-identical, so the (weight, doc_id) rank order the driver
    hashes cannot drift.
    """
    # parallel=True: the bigram build + hash is the serial map kernel;
    # every output is an exact count or a det_sum fold (order-free).
    # ONE explode pass (round 9; previously the occurrence stream was
    # derived twice — once for the distributions, once for the per-doc
    # counts): the (doc_id, lang, bucket) rollup is materialized and
    # BOTH the 256-bucket distributions and the per-doc weights derive
    # from it by exact-integer sums.
    occ = (
        load_table(spark, sf_dir, "documents", parallel=True)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    _DSIR_BIGRAMS_SPARK.replace("ws", f"({_DSIR_WORDS_SPARK})")
                )
            ).alias("bigram"),
        )
        .select("doc_id", "lang", F.expr(_BUCKET_SPARK).alias("bucket"))
    )
    dlb = (
        occ.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(eager_checkpoint)
    )
    dist = dlb.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(0)
        ).alias("c_t"),
        F.sum("cnt").alias("c_r"),
    )
    tot = dist.groupBy().agg(
        F.sum("c_t").alias("t_total"), F.sum("c_r").alias("r_total")
    )
    ratio = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("c_t") + 1.0) / (F.col("t_total") + DSIR_BUCKETS))
            - F.log((F.col("c_r") + 1.0) / (F.col("r_total") + DSIR_BUCKETS))
        ).alias("log_ratio"),
    )
    doc_bucket = dlb.select("doc_id", "bucket", "cnt")
    weights = (
        doc_bucket.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            det_sum("cnt * log_ratio").alias("weight"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )
    return weights.orderBy(F.desc("weight"), F.asc("doc_id")).limit(DSIR_TOPK)


# ---------------------------------------------------------------------------
# character-trigram entropy (gibberish / boilerplate detector)
# ---------------------------------------------------------------------------

# Per-doc trigram-count run-length encoding, entirely inside the row:
# sort the trigram array, find run starts, difference consecutive
# starts into run lengths (= per-gram counts). No char-level row ever
# leaves the scan projection.
_SORTED_SPARK = (
    "array_sort(transform(sequence(1, length(text) - 2), "
    "i -> substring(text, i, 3)))"
)
# DuckDB range(a, b) is half-open [a, b); Spark sequence(a, b) is
# inclusive [a, b] — hence the +1. text[i : i + 2] is DuckDB's
# 1-based INCLUSIVE slice = 3 chars.
_SORTED_SQL = (
    "list_sort(list_transform(range(1, length(text) - 1), "
    "i -> text[i : i + 2]))"
)
# Per-doc entropy as ONE expression. Two structural tricks:
# - let-binding via `transform(array(X), s -> body)[1]`: Catalyst's
#   projection collapse inlines a column alias into EVERY downstream
#   reference, and higher-order functions are codegen-fallback (no
#   subexpression elimination) — a staged sorted/starts/lens pipeline
#   re-sorted the trigram array ~5× per row (measured SLOWER than the
#   explode plan it replaced). Binding the sorted array as a lambda
#   variable forces exactly one evaluation.
# - single left-to-right fold over positions with (run_start, acc)
#   struct state: a run closes at position i when i is last or
#   sorted[i+1] ≠ sorted[i], contributing c·ln c for c = i−start+1.
#   Runs close in ascending gram order from acc = 0.0 — an order both
#   engines reproduce exactly, so the fold is bit-identical without
#   any value re-sort.
_ENTROPY_DOC_SPARK = """
element_at(transform(array(
    array_sort(transform(sequence(1, length(text) - 2),
                         i -> substring(text, i, 3)))
), s ->
    ln(cast(size(s) AS DOUBLE)) -
    aggregate(
        sequence(1, size(s)),
        named_struct('st', 1, 'acc', cast(0.0 AS DOUBLE)),
        (a, i) -> CASE
            WHEN i = size(s)
                 OR try_element_at(s, i + 1) != element_at(s, i)
            THEN named_struct(
                'st', i + 1,
                'acc', a.acc + cast(i - a.st + 1 AS DOUBLE)
                              * ln(cast(i - a.st + 1 AS DOUBLE)))
            ELSE a END,
        a -> a.acc
    ) / cast(size(s) AS DOUBLE)
), 1)
"""

# DuckDB replay: same sorted array, run lengths via start-position
# differencing (ascending gram order = the Spark fold's run order),
# folded from a prepended 0.0. DuckDB range(a, b) is half-open;
# text[i : i + 2] is the 1-based INCLUSIVE 3-char slice.
_ENTROPY_ORACLE = """
WITH s1 AS (
    SELECT source,
           list_sort(list_transform(range(1, length(text) - 1),
                                    i -> text[i : i + 2])) AS sorted
    FROM documents WHERE length(text) >= 3
),
s2 AS (
    SELECT source, sorted,
           list_filter(range(1, len(sorted) + 1),
                       i -> i = 1 OR sorted[i] <> sorted[i - 1]) AS starts
    FROM s1
),
s3 AS (
    SELECT source, sorted,
           list_transform(range(1, len(starts) + 1),
                          j -> coalesce(starts[j + 1], len(sorted) + 1)
                               - starts[j]) AS lens
    FROM s2
),
doc AS (
    SELECT source,
           ln(CAST(len(sorted) AS DOUBLE))
           - list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                              list_transform(lens,
                                  c -> CAST(c AS DOUBLE)
                                       * ln(CAST(c AS DOUBLE)))),
                 (acc, x) -> acc + x
             ) / CAST(len(sorted) AS DOUBLE) AS entropy_nats
    FROM s3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       avg(entropy_nats)        AS avg_entropy,
       min(entropy_nats)        AS min_entropy,
       max(entropy_nats)        AS max_entropy
FROM doc GROUP BY source
"""


@register(
    "q_char_trigram_entropy",
    oracle=_ENTROPY_ORACLE,
    tags=("text", "quality", "curation"),
)
def q_char_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-trigram Shannon entropy of each document,
    H = ln n − (Σ c·ln c)/n nats — the distribution-shape quality
    signal: boilerplate and template spam repeat trigrams (entropy
    collapses toward 0), binary-in-text and mojibake push toward the
    ln(alphabet³) ceiling, natural prose sits in a stable band. The
    character-level complement of the word-level unigram surprisal
    filter; docs shorter than one trigram carry no distribution and
    are out of scope.

    Plan shape: the per-doc trigram distribution never leaves the row
    — sort the trigram array IN the scan projection (let-bound so it
    is computed exactly once; see _ENTROPY_DOC_SPARK), then a single
    left-to-right fold closes runs and accumulates Σ c·ln c. The first
    cut exploded one row per character position and partially
    aggregated (doc_id, gram) pairs — at sf0.1 that shuffle made this
    the single slowest bench query (3.7 s); the in-row form's only
    Exchange is the 20-group per-source rollup carrying (source, H)
    doubles. One text pass, zero data-scale shuffles at 100 TB.

    Float determinism: runs close in ascending gram order on both
    engines, so the Σ c·ln c additions happen in the identical
    sequence from 0.0, and H is derived with the same three IEEE ops;
    the per-source avg/min/max then aggregate bit-identical per-doc
    values.
    """
    doc = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .select("source", F.expr(_ENTROPY_DOC_SPARK).alias("entropy_nats"))
    )
    return doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("entropy_nats").alias("avg_entropy"),
        F.min("entropy_nats").alias("min_entropy"),
        F.max("entropy_nats").alias("max_entropy"),
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (Sennrich et al. 2016, the corpus-scale
# inner loop of byte-pair-encoding tokenizer training)
# ---------------------------------------------------------------------------

BPE_TOPK = 20


_BPE_ORACLE = f"""
WITH vocab AS (
    SELECT word, CAST(count(*) AS BIGINT) AS f
    FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents
    )
    GROUP BY word
),
pairs AS (
    SELECT pair, CAST(sum(f) AS BIGINT) AS merge_count
    FROM (
        SELECT f,
               unnest(list_transform(range(1, length(word)),
                                     i -> word[i : i + 1])) AS pair
        FROM vocab WHERE length(word) >= 2
    )
    GROUP BY pair
)
SELECT pair, merge_count
FROM pairs
ORDER BY merge_count DESC, pair
LIMIT {BPE_TOPK}
"""


@register(
    "q_bpe_merge_candidates",
    oracle=_BPE_ORACLE,
    tags=("text", "tokenizer", "bpe", "training-data"),
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, iteration 1 (Sennrich et al. 2016):
    count adjacent-symbol pair frequencies over the corpus — each
    word contributes every adjacent character pair, weighted by the
    word's corpus frequency — and emit the top-{BPE_TOPK} merge
    candidates. The highest-count pair IS the first BPE merge; later
    iterations re-run this exact plan over re-segmented symbol
    sequences, so this query is the corpus-scale inner loop that
    dominates tokenizer-training cost (the merge table itself is
    O(vocab), driver-side).

    Plan shape: pass 1 collapses the corpus to the frequency-weighted
    word vocabulary (the shuffle carries (word, count) — vocab-bounded,
    the same contract as q_word_frequency_topk); pass 2 generates
    adjacent pairs IN the row (a CASE-guarded transform — Spark's
    sequence(1, 0) counts DOWN, so short words need the explicit
    empty-array branch), explodes per distinct word (not per
    occurrence), and aggregates over an alphabet²-bounded key space.
    Top-k is TakeOrderedAndProject. All counts are exact BIGINTs —
    nothing to pin.
    """
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = vocab.filter(F.length("word") >= 2).select(
        "f",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("merge_count"))
        .orderBy(F.desc("merge_count"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# encoding / markup anomaly audit (the CCNet/C4 cleanup gate)
# ---------------------------------------------------------------------------

#: rule predicates: (name, regex-or-literal). Booleans from exact
#: matches — nothing float anywhere — so the two engines only need to
#: agree on the VALUE; the regex dialect differs (Spark regexp_like vs
#: DuckDB regexp_matches), hence per-engine renderers below.
_ENC_RULES = [
    ("n_ctrl", ("re", r"[\x00-\x08\x0B\x0C\x0E-\x1F]")),
    ("n_replacement", ("lit", "�")),
    ("n_entity", ("re", "&(amp|lt|gt|quot|nbsp|#[0-9]+);")),
    ("n_tag", ("re", "</?(p|div|span|br|a|html|body)[ />]")),
    ("n_mojibake", ("lit2", "\u00e2\u20ac", "\u00c3\u00a9")),
]


def _enc_pred(rule: tuple, fn_re: str) -> str:
    """Render one rule for an engine: ``fn_re`` names its regex-match
    function (Spark ``regexp_like`` / DuckDB ``regexp_matches``), and
    Spark's string-literal parser consumes one level of backslash that
    DuckDB's does not — the VALUE is what must agree, not the text."""
    kind = rule[0]
    if kind == "re":
        pat = rule[1]
        if fn_re == "regexp_like":  # Spark literal: re-escape backslashes
            pat = pat.replace("\\", "\\\\")
        return f"{fn_re}(text, '{pat}')"
    if kind == "lit":
        return f"contains(text, '{rule[1]}')"
    return (
        f"contains(text, '{rule[1]}') OR contains(text, '{rule[2]}')"
    )


_ENC_ORACLE = f"""
WITH checks AS (
    SELECT source,
{",".join(f"           CASE WHEN {_enc_pred(r, 'regexp_matches')} THEN 1 ELSE 0 END AS {name}" for name, r in _ENC_RULES)}
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
{",".join(f"       CAST(sum({name}) AS BIGINT) AS {name}" for name, _ in _ENC_RULES)},
       CAST(sum(CASE WHEN {" + ".join(n for n, _ in _ENC_RULES)} > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_any
FROM checks
GROUP BY source
"""


@register(
    "q_encoding_anomaly_audit",
    oracle=_ENC_ORACLE,
    tags=("curation", "encoding", "mojibake", "audit"),
)
def q_encoding_anomaly_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding/markup anomaly audit — the cleanup gate
    every web-scale corpus pipeline (C4, CCNet, RefinedWeb) runs
    before the statistical filters: control characters (binary leaked
    into text fields), U+FFFD replacement characters (a decode already
    went lossy upstream — unfixable, only detectable), residual HTML
    entities and tag fragments (boilerplate extraction failed), and
    the classic UTF-8-decoded-as-Latin-1 mojibake digraphs ('â€…',
    'Ã©'). Word-statistics rules (q_gopher_quality_rules) are blind to
    all five: a mojibake'd document has perfectly normal word lengths.

    Every rule is a regex/literal match evaluated once per row in one
    projection; only (source, 5 booleans) reach the Exchange; counts
    are exact BIGINTs — nothing float anywhere, so cross-engine
    equality is structural. Scale: one partial-aggregated scan,
    |sources| output rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    checks = docs.selectExpr(
        "source",
        *[
            f"CASE WHEN {_enc_pred(r, 'regexp_like')} THEN 1 ELSE 0 END"
            f" AS {name}"
            for name, r in _ENC_RULES
        ],
    )
    any_rule = None
    for name, _ in _ENC_RULES:
        any_rule = F.col(name) if any_rule is None else any_rule + F.col(name)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    aggs += [
        F.sum(name).cast("long").alias(name) for name, _ in _ENC_RULES
    ]
    aggs.append(F.sum((any_rule > 0).cast("int")).cast("long").alias("n_any"))
    return checks.groupBy("source").agg(*aggs)


# --------------------------------------------------------------------------
# language-mixture entropy per source
# --------------------------------------------------------------------------

_LANG_ENTROPY_ORACLE = f"""
WITH c AS (
    SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
    FROM documents GROUP BY source, lang
),
tot AS (
    SELECT source, sum(cnt) AS n FROM c GROUP BY source
)
SELECT c.source,
       CAST(max(t.n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_langs,
       {_DSUM_SQL.format(
           x="-(cnt * 1.0 / t.n) * log2(cnt * 1.0 / t.n)"
       )} AS lang_entropy_bits
FROM c JOIN tot t USING (source)
GROUP BY c.source
"""


@register(
    "q_lang_entropy_by_source",
    oracle=_LANG_ENTROPY_ORACLE,
    tags=("text", "mixture", "diagnostics"),
)
def q_lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix — the one-number
    diagnostic for corpus mixture design: 0 bits = monolingual source,
    log2(k) = uniform over k languages. Pretraining mixture tooling
    watches this per-snapshot to catch crawls whose language balance
    drifted. Two tiny grouped aggregates (|source×lang| then |source|
    rows); the entropy sum folds ≤|langs| terms via det_sum for
    bit-replay.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = c.groupBy("source").agg(F.sum("cnt").alias("n"))
    return (
        c.join(tot, "source")
        .groupBy("source")
        .agg(
            F.expr("CAST(max(n) AS BIGINT)").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            det_sum("-(cnt * 1.0 / n) * log2(cnt * 1.0 / n)").alias(
                "lang_entropy_bits"
            ),
        )
    )


# --------------------------------------------------------------------------
# quantile normalization of quality scores → decile mix per source
# --------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH scored AS (
    SELECT doc_id, source, n_chars * 1.0 AS score,
           percent_rank() OVER (ORDER BY n_chars, doc_id) AS pr
    FROM documents
)
SELECT source,
       CAST(least(CAST(floor(pr * 10) AS BIGINT), 9) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs
FROM scored
GROUP BY source, least(CAST(floor(pr * 10) AS BIGINT), 9)
"""


@register(
    "q_quality_decile_mix",
    oracle=_QNORM_ORACLE,
    tags=("curation", "quantile-normalization", "mixture"),
)
def q_quality_decile_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize a quality proxy (n_chars) over the WHOLE
    corpus, then show each source's decile mix — the table a curation
    team reads to set per-source sampling weights ("src7 is 40%
    bottom-decile"). percent_rank with a doc_id tiebreak is fully
    deterministic cross-engine, and under a TOTAL order it reduces to
    (row_number − 1) / (n − 1) — which the distributed zipWithIndex
    (operators/distributed_rank.py, n_chars div 64 monotone bucket)
    computes with the IDENTICAL single IEEE division, no
    single-partition rank window over the corpus.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        with_global_position(
            docs.select("source", "n_chars", "doc_id"),
            ["n_chars", "doc_id"],
            F.floor(F.col("n_chars") / F.lit(64)),
            n_col="n",
        )
        .selectExpr(
            "source",
            # percent_rank == (rank-1)/(n-1) and rank == row_number
            # under the total (n_chars, doc_id) order; single-row edge
            # pinned to percent_rank's defined 0.0
            "CASE WHEN n > 1 THEN CAST(pos AS DOUBLE) / (n - 1)"
            " ELSE 0.0 END AS pr",
        )
    )
    return (
        scored.selectExpr(
            "source",
            "CAST(least(CAST(floor(pr * 10) AS BIGINT), 9) AS BIGINT)"
            " AS decile",
        )
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# effective number of sources (inverse Simpson over token shares)
# --------------------------------------------------------------------------

_EFFSRC_ORACLE = """
WITH t AS (
    SELECT source,
           CAST(sum(length(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
             AS toks
    FROM documents GROUP BY source
),
tot AS (SELECT sum(toks) AS n FROM t)
SELECT CAST(count(*) AS BIGINT) AS n_sources,
       CAST(max(tot.n) AS BIGINT) AS total_tokens,
       1.0 / list_reduce(
           list_sort(list((toks * 1.0 / tot.n) * (toks * 1.0 / tot.n))),
           (a, b) -> a + b)
         AS effective_sources,
       max(toks) * 1.0 / max(tot.n) AS max_share
FROM t CROSS JOIN tot
"""


@register(
    "q_effective_source_count",
    oracle=_EFFSRC_ORACLE,
    tags=("mixture", "diversity", "diagnostics"),
)
def q_effective_source_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-Simpson "effective number of sources" over token
    shares: 1/Σs² — equals k when k sources contribute equally,
    collapses toward 1 as one source dominates. The single number a
    mixture design review asks for first (20 sources at effective 2.3
    is a monoculture). The Simpson sum is det_sum-folded on both
    engines (the house double-sum discipline — a plain partial-agg
    sum adds in partition order and last-ulp drift depends on the
    scheduler); count/total are exact BIGINTs.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.expr(
            r"CAST(sum(size(split(trim(text), '\\s+'))) AS BIGINT)"
        ).alias("toks")
    )
    tot = t.agg(F.sum("toks").alias("n"))
    terms = t.crossJoin(F.broadcast(tot)).select(
        "toks",
        "n",
        (
            (F.col("toks") * 1.0 / F.col("n"))
            * (F.col("toks") * 1.0 / F.col("n"))
        ).alias("sq"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.expr("CAST(max(n) AS BIGINT)").alias("total_tokens"),
        (F.lit(1.0) / det_sum("sq")).alias("effective_sources"),
        (F.max("toks") * 1.0 / F.max("n")).alias("max_share"),
    )


# --------------------------------------------------------------------------
# bigram-LM perplexity scoring (CCNet-style LM quality filter)
# --------------------------------------------------------------------------

LM_BUCKETS = 1024  # hashed vocab (collisions merge identically cross-engine)
LM_TOPK = 25

#: ln P(w2|w1) with add-one smoothing over the hashed vocab — ONE text.
_LM_LOGP = "ln((c2 + 1.0) / (c1 + CAST({B} AS DOUBLE)))".format(B=LM_BUCKETS)

# Shared CTE chain: per-doc bigram-LM score (reused by the
# perplexity-filter retention curve — keep ONE text of the model)
_LM_SCORED_CTES = f"""
WITH toks AS (
    SELECT doc_id,
           list_transform(string_split_regex(trim(lower(text)), '\\s+'),
               w -> CAST('0x' || substr(md5(w), 1, 13) AS BIGINT)
                    % {LM_BUCKETS}) AS ws
    FROM documents
),
big AS (
    SELECT doc_id, unnest(ws[1:length(ws) - 1]) AS w1,
           unnest(ws[2:length(ws)]) AS w2
    FROM toks WHERE length(ws) >= 2
),
c2t AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2
),
c1t AS (
    SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY w1
),
scored AS (
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           {_DSUM_SQL.format(x=f"-({_LM_LOGP})")} AS nll
    FROM big b JOIN c2t USING (w1, w2) JOIN c1t USING (w1)
    GROUP BY b.doc_id
)
"""

_LM_ORACLE = f"""{_LM_SCORED_CTES}
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_bigrams,
       nll / n_bigrams AS cross_entropy,
       exp(nll / n_bigrams) AS perplexity
FROM scored
ORDER BY perplexity DESC, doc_id
LIMIT {LM_TOPK}
"""


def lm_scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM score frame (doc_id, n_bigrams, nll): the
    corpus-trained add-one-smoothed hashed-bigram model shared by
    q_bigram_lm_perplexity and q_ppl_filter_retention_curve. One
    model, one Spark shape, one oracle CTE text (_LM_SCORED_CTES)."""
    from pyspark import StorageLevel

    # Scan re-key tried and REJECTED: det_sum folds make it
    # parity-safe, but the chain's cost is the persisted bigram explode
    # + vocab-bounded joins, not the tokenize scan — interleaved A/B
    # med 1.73 → 1.77 s on q_bigram_lm_perplexity and 2.34 → 2.79 s on
    # q_ppl_filter_retention_curve with parallel=True.
    docs = load_table(spark, sf_dir, "documents")
    # \\s doubled for Spark's escape-processing string literals
    toks = docs.selectExpr(
        "doc_id",
        r"transform(split(trim(lower(text)), '\\s+'),"
        f" w -> CAST(conv(substr(md5(w), 1, 13), 16, 10) AS BIGINT)"
        f" % {LM_BUCKETS}) AS ws",
    )
    big = (
        toks.filter("size(ws) >= 2")
        .selectExpr(
            "doc_id",
            "explode(arrays_zip(slice(ws, 1, size(ws) - 1),"
            " slice(ws, 2, size(ws) - 1))) AS bg",
        )
        .selectExpr("doc_id", "bg.`0` AS w1", "bg.`1` AS w2")
        # three consumers (c2t, c1t, the scoring join) — persist so the
        # text scan + per-word md5 + explode runs once, not three times
        # (the minhash_pair_plan multi-consumer discipline)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c2t = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    c1t = big.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    return (
        big.join(c2t, ["w1", "w2"])
        .join(c1t, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            det_sum(f"-({_LM_LOGP})").alias("nll"),
        )
    )


@register(
    "q_bigram_lm_perplexity",
    oracle=_LM_ORACLE,
    tags=("curation", "language-model", "perplexity"),
)
def q_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM perplexity per document — the
    {LM_TOPK} least-corpus-like docs. The CCNet/Gopher recipe class:
    train a cheap LM on the corpus itself (here add-one-smoothed
    bigrams over a {LM_BUCKETS}-bucket hashed vocab), score every doc
    by cross-entropy, and the tail is gibberish / lorem / wrong-
    language material no single-doc heuristic flags. Complements the
    word-level unigram surprisal and char-trigram entropy filters
    with CONTEXT (a doc of real words in impossible ORDER scores high
    here and normal there).

    Scale shape: words hash to bucket ids inside the scan projection
    (no strings cross an Exchange); bigram extraction is an in-row
    zip + one explode; the two count tables are vocab-bounded
    (≤ {LM_BUCKETS}² and ≤ {LM_BUCKETS} rows) so the scoring joins
    shuffle bounded model state plus (doc_id, w1, w2) triples —
    linear in corpus tokens. Per-doc NLL is a det_sum fold; the final
    top-k is a TakeOrdered, not a global sort.
    """
    return (
        lm_scored_docs(spark, sf_dir).selectExpr(
            "CAST(doc_id AS BIGINT) AS doc_id",
            "n_bigrams",
            "nll / n_bigrams AS cross_entropy",
            "exp(nll / n_bigrams) AS perplexity",
        )
        .orderBy(F.col("perplexity").desc(), "doc_id")
        .limit(LM_TOPK)
    )


# --------------------------------------------------------------------------
# n-gram novelty by source: who contributes NEW text?
# --------------------------------------------------------------------------

_NOVELTY_ORACLE = f"""
WITH sh AS (
    SELECT source, doc_id, unnest({SHINGLES_SQL}) AS shingle FROM documents
),
occ AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_shingles
    FROM sh GROUP BY source
),
novel AS (
    SELECT first_source AS source, CAST(count(*) AS BIGINT) AS n_novel
    FROM (
        SELECT shingle, arg_min(source, doc_id) AS first_source
        FROM sh GROUP BY shingle
    ) GROUP BY first_source
),
nd AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
)
SELECT nd.source, nd.n_docs, occ.n_shingles,
       CAST(COALESCE(novel.n_novel, 0) AS BIGINT) AS n_novel,
       COALESCE(novel.n_novel, 0) * 1.0 / occ.n_shingles AS novelty_rate
FROM nd JOIN occ USING (source) LEFT JOIN novel USING (source)
"""


@register(
    "q_ngram_novelty_by_source",
    oracle=_NOVELTY_ORACLE,
    tags=("llm-pipeline", "novelty", "mixture-design"),
)
def q_ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: of each source's word-3-gram shingle
    occurrences (the dedup family's shingle recipe, doc-distinct), how
    many are introduced by that doc — i.e. their global first
    occurrence (min doc_id) IS this doc. A source full of boilerplate
    already seen elsewhere scores low; a source of genuinely new text
    scores high — the curve a mixture designer reads before weighting
    sources, complementing q_dedup_inflation_factor (how much is
    duplicated) with WHERE novelty originates.

    Scale shape (rewritten after the first bench draft measured 9.5 s
    at sf0.1 for a join-back formulation): every shingle contributes
    exactly ONE novel occurrence — at its global min doc — so the
    per-source novel count is just "shingles whose min_by(source,
    doc_id) is this source". Two partial aggregations, NO join of two
    exploded-size sides, no window sort: occurrences per source
    (map-side combine) + min_by per shingle (the same groupBy(shingle)
    shuffle class the MinHash build pays) reduced to a |sources|-row
    frame. Counts are exact ints; the single ratio divides two BIGINTs
    once. Measured 9.5 s → 2.2 s warm at sf0.1.
    """
    # Scan re-key tried and REJECTED (round 10): outputs are exact ints
    # + one BIGINT ratio and min_by is a total-order argmin, so
    # parallel=True would be parity-safe — but the interleaved A/B says
    # the groupBy(shingle) exchange dominates and the re-key only adds
    # a shuffle ahead of it: med 1.31 s (off) vs 1.66 s (on), +27%.
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("source", "doc_id", F.trim(F.col("text")).alias("t"))
        .select("source", "doc_id", "t", F.split("t", r"\s+").alias("ws"))
        .select(
            "source",
            "doc_id",
            F.explode(F.expr(_SHINGLES_FROM_WS)).alias("shingle"),
        )
    )
    occ = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    novel = (
        sh.groupBy("shingle")
        .agg(F.expr("min_by(source, doc_id)").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    nd = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        nd.join(occ, "source")
        # LEFT join: a source whose every shingle first occurred in an
        # earlier source has NO novel row — it must surface as 0.0
        # novelty, not vanish from the curve (round-6 review catch)
        .join(novel, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            (
                F.coalesce(F.col("n_novel"), F.lit(0))
                * F.lit(1.0)
                / F.col("n_shingles")
            ).alias("novelty_rate"),
        )
    )


# --------------------------------------------------------------------------
# boilerplate n-gram coverage by source
# --------------------------------------------------------------------------

BOILER_DF_FRAC = 0.01  # a gram in >1% of docs is boilerplate

_BOILER_ORACLE = f"""
WITH sh AS (
    SELECT source, doc_id, unnest({SHINGLES_SQL}) AS shingle FROM documents
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
df AS (
    SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM sh GROUP BY shingle
),
flagged AS (
    SELECT sh.source,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(sum(CASE WHEN df.df >= ceil({BOILER_DF_FRAC} * nd.n_docs)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
    FROM sh JOIN df USING (shingle) CROSS JOIN nd
    GROUP BY sh.source
)
SELECT source, n_occ, n_boiler,
       CAST(n_boiler AS DOUBLE) / n_occ AS boiler_share
FROM flagged
"""


@register(
    "q_boilerplate_ngram_coverage",
    oracle=_BOILER_ORACLE,
    tags=("curation", "boilerplate", "quality"),
)
def q_boilerplate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate load: the share of word-3-gram
    occurrences whose document frequency exceeds {BOILER_DF_FRAC:.0%}
    of the corpus — the repeated-span mass (navboxes, legal footers,
    templates) that survives DOC-level dedup because each hosting doc
    is unique. The CCNet line-dedup pass generalized to n-grams
    (fixture text has no line structure); a source scoring high here
    needs span-level cleanup before training, however novel its docs
    look to q_ngram_novelty_by_source.

    Scale shape: one groupBy(shingle) distinct-doc count (the MinHash
    shuffle class) re-joined to the occurrence stream; the corpus doc
    count is a 1-row broadcast. Counts exact ints, one division.
    """
    # parallel=True: the shingle build is the serial map kernel; all
    # outputs are exact counts and one int ratio (order-free). ONE
    # shingle pass (round 9; previously the occurrence stream was
    # derived twice — df rollup + row-level join-back): aggregate to
    # (shingle, source) CELLS first — a document has exactly ONE
    # source, so per-shingle df = Σ_source per-cell distinct docs —
    # then the df join runs over |cells| rows, not |occurrences|.
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    sh = (
        docs.select("source", "doc_id", F.trim(F.col("text")).alias("t"))
        .select("source", "doc_id", "t", F.split("t", r"\s+").alias("ws"))
        .select(
            "source",
            "doc_id",
            F.explode(F.expr(_SHINGLES_FROM_WS)).alias("shingle"),
        )
    )
    cell = (
        sh.groupBy("shingle", "source")
        .agg(
            F.count(F.lit(1)).alias("n_occ_cell"),
            F.count_distinct("doc_id").alias("nd_cell"),
        )
        .transform(eager_checkpoint)
    )
    dfr = cell.groupBy("shingle").agg(F.sum("nd_cell").alias("df"))
    nd = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return (
        cell.join(dfr, "shingle")
        .crossJoin(F.broadcast(nd))
        .groupBy("source")
        .agg(
            F.sum("n_occ_cell").cast("long").alias("n_occ"),
            F.sum(
                F.when(
                    F.col("df")
                    >= F.ceil(F.lit(BOILER_DF_FRAC) * F.col("n_docs")),
                    F.col("n_occ_cell"),
                ).otherwise(0)
            ).cast("long").alias("n_boiler"),
        )
        .selectExpr(
            "source",
            "n_occ",
            "n_boiler",
            "CAST(n_boiler AS DOUBLE) / n_occ AS boiler_share",
        )
    )


# --------------------------------------------------------------------------
# perplexity-filter retention curve
# --------------------------------------------------------------------------

PPL_GRID = (0.5, 0.75, 0.9, 0.95, 0.99)


def _ppl_curve_oracle() -> str:
    qs = ", ".join(f"({q})" for q in PPL_GRID)
    return f"""{_LM_SCORED_CTES}
, ppl AS (
    SELECT doc_id, n_bigrams, exp(nll / n_bigrams) AS perplexity
    FROM scored
),
r AS (
    SELECT *, row_number() OVER (ORDER BY perplexity, doc_id) AS rn,
           count(*) OVER () AS n
    FROM ppl
),
grid AS (SELECT unnest([{qs}]) AS q),
thresholds AS (
    SELECT g.q,
           max(CASE WHEN r.rn = greatest(1, CAST(ceil(g.q * r.n) AS BIGINT))
               THEN r.perplexity END) AS ppl_cut
    FROM grid g CROSS JOIN r
    GROUP BY g.q
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS docs_total,
           CAST(sum(n_bigrams) AS BIGINT) AS tokens_total
    FROM ppl
)
SELECT t.q, t.ppl_cut,
       CAST(sum(CASE WHEN p.perplexity <= t.ppl_cut THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept,
       CAST(sum(CASE WHEN p.perplexity <= t.ppl_cut THEN p.n_bigrams
                ELSE 0 END) AS BIGINT) AS tokens_kept,
       CAST(sum(CASE WHEN p.perplexity <= t.ppl_cut THEN p.n_bigrams
                ELSE 0 END) AS DOUBLE) / tot.tokens_total AS token_share
FROM thresholds t CROSS JOIN ppl p CROSS JOIN tot
GROUP BY t.q, t.ppl_cut, tot.tokens_total
"""


@register(
    "q_ppl_filter_retention_curve",
    oracle=_ppl_curve_oracle(),
    tags=("curation", "perplexity", "filter-tuning"),
)
def q_ppl_filter_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-filter tuning curve: for cutoffs at the corpus ppl
    quantiles {PPL_GRID}, how many documents and TOKENS survive a
    "drop everything above the cutoff" filter. The decision instrument
    behind every CCNet/Gopher-style ppl gate — the question is never
    "is 1200 a good perplexity" but "what fraction of my token budget
    does each cutoff keep". Reuses the exact bigram-LM score frame of
    q_bigram_lm_perplexity (lm_scored_docs — one
    model, one SQL text).

    Scale shape: inherits the LM's vocab-bounded shuffles; the ppl
    frame is |docs| rows; cutoffs are ceil-rank order statistics
    (doc_id tiebreak — identical row on both engines) extracted by the
    distributed order-statistic path: positions come from the
    bucket-partitioned zipWithIndex (operators/distributed_rank.py;
    floor(perplexity·8) is the monotone bucket), the 5 target ranks
    are a broadcast grid, and the threshold lookup is a broadcast join
    on position — no single-partition rank window over |docs| rows.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    ppl = (
        lm_scored_docs(spark, sf_dir)
        .selectExpr("doc_id", "n_bigrams", "exp(nll / n_bigrams) AS perplexity")
        # slim 3-col per-doc frame consumed by FOUR branches (ranking
        # rollup, rank join, total, final curve join) — materialize so
        # the bigram-LM scoring pipeline runs once (dedup-family
        # persist discipline)
        .transform(eager_checkpoint)
    )
    ranked = with_global_position(
        ppl,
        ["perplexity", "doc_id"],
        F.floor(F.col("perplexity") * 8),
        pos_col="__rnk_pos",
    )
    # ONE totals text serves both the rank grid (docs_total) and the
    # final token-share denominator (round 9). Round 10: the r9 EAGER
    # CHECKPOINT on this 1-row aggregate was the round-9 PERF
    # regression (driver 2.73 → 3.02 s): it added a synchronous job
    # barrier before the two consuming broadcasts, which otherwise
    # evaluate the cheap agg-over-checkpointed-ppl inside their own
    # jobs. Interleaved A/B: fold+ckpt 3.25 s med / fold-lazy 2.93 /
    # r8 two-agg 2.98 — the fold stays, the checkpoint goes.
    tot = ppl.agg(
        F.count(F.lit(1)).cast("long").alias("docs_total"),
        F.sum("n_bigrams").cast("long").alias("tokens_total"),
    )
    grid = spark.createDataFrame([(q,) for q in PPL_GRID], "q double")
    targets = grid.crossJoin(F.broadcast(tot)).selectExpr(
        "q", "greatest(1, CAST(ceil(q * docs_total) AS BIGINT)) AS k"
    )
    thresholds = (
        ranked.join(
            F.broadcast(targets),
            F.col("__rnk_pos") == F.col("k") - 1,
        )
        .groupBy("q")
        .agg(F.max("perplexity").alias("ppl_cut"))
    )
    return (
        F.broadcast(thresholds)
        .crossJoin(ppl)
        .crossJoin(F.broadcast(tot))
        .groupBy("q", "ppl_cut", "tokens_total")
        .agg(
            F.sum(
                F.when(F.col("perplexity") <= F.col("ppl_cut"), 1).otherwise(0)
            ).cast("long").alias("docs_kept"),
            F.sum(
                F.when(
                    F.col("perplexity") <= F.col("ppl_cut"),
                    F.col("n_bigrams"),
                ).otherwise(0)
            ).cast("long").alias("tokens_kept"),
        )
        .selectExpr(
            "q",
            "ppl_cut",
            "docs_kept",
            "tokens_kept",
            "CAST(tokens_kept AS DOUBLE) / tokens_total AS token_share",
        )
    )


# --------------------------------------------------------------------------
# Pairwise source unigram Jensen-Shannon divergence
# --------------------------------------------------------------------------

_JSD_ORACLE = r"""
WITH w AS (
    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
    FROM documents
),
c AS (SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
      FROM w WHERE word <> '' GROUP BY source, word),
tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total FROM c GROUP BY source),
p AS (
    SELECT c.source, c.word, c.cnt * 1.0 / tot.total AS p
    FROM c JOIN tot ON c.source = tot.source
),
terms AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.p * log2(a.p / (a.p + b.p)) + b.p * log2(b.p / (a.p + b.p)) AS term
    FROM p a JOIN p b ON a.word = b.word AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_shared_words,
       1.0 + 0.5 * list_reduce(list_sort(list(term)), (x, y) -> x + y) AS jsd_bits
FROM terms
GROUP BY source_a, source_b
"""


@register(
    "q_source_unigram_jsd",
    oracle=_JSD_ORACLE,
    tags=("text", "mixture-design", "divergence", "training-prep"),
)
def q_source_unigram_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits, base-2, in [0,1]) between every
    source pair's unigram distributions — the distributional
    redundancy matrix a mixture designer reads next to the dup-flow
    matrix: near-0 JSD says two sources are interchangeable mass,
    near-1 says they cover disjoint vocabulary (DoReMi-style domain
    weighting starts from such a table).

    Uses the identity JSD = 1 + ½·Σ_{w: both>0} [p·log2(p/(p+q)) +
    q·log2(q/(p+q))] — words unique to one source contribute exactly
    their mass through the leading 1 (since Σp = Σq = 1), so the plan
    needs only an INNER self-join on shared words, never an outer
    join. Pairs sharing zero words are omitted (their JSD is exactly
    1). Shuffles are vocabulary-bounded: (source, word) counts are
    partial-aggregated map-side; the word self-join carries
    |V|·k²/2 rows worst case for k sources. The per-pair double sum
    is det_sum-folded for oracle replay. North-star extension
    (SURVEY.md §2.8 text analysis / mixture design); no reference
    analogue.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(
        # empty/whitespace-only texts split to [''] — a phantom token
        # that would make two otherwise-disjoint sources "share" a word
        F.col("word")
        != ""
    )
    c = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = c.groupBy("source").agg(F.sum("cnt").cast("long").alias("total"))
    p = c.join(tot, "source").select(
        "source", "word", (F.col("cnt") * F.lit(1.0) / F.col("total")).alias("p")
    )
    a, b = p.alias("a"), p.alias("b")
    terms = a.join(
        b,
        (F.col("a.word") == F.col("b.word"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.expr(
            "a.p * log2(a.p / (a.p + b.p)) + b.p * log2(b.p / (a.p + b.p))"
        ).alias("term"),
    )
    return terms.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_words"),
        (F.lit(1.0) + F.lit(0.5) * det_sum("term")).alias("jsd_bits"),
    )


# --------------------------------------------------------------------------
# temperature-scaled mixture weights


#: shared texts: sqrt / * / / are IEEE correctly rounded, so identical
#: operands give identical bits on both engines — no det_sum needed
#: beyond the source-level totals.
_W_HALF = "sqrt(CAST(n_chars AS DOUBLE)) / t_half"
_W_QUARTER = "sqrt(sqrt(CAST(n_chars AS DOUBLE))) / t_quarter"
_EPOCHS = "CAST(total_chars AS DOUBLE) * {w} / CAST(n_chars AS DOUBLE)"

_MIXTURE_ORACLE = f"""
WITH per AS (
    SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_sort(list(sqrt(CAST(n_chars AS DOUBLE))))),
                       (a, b) -> a + b) AS t_half,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_sort(list(sqrt(sqrt(CAST(n_chars AS DOUBLE)))))),
                       (a, b) -> a + b) AS t_quarter
    FROM per
),
w AS (
    SELECT source, n_chars,
           {_W_HALF}    AS w_half,
           {_W_QUARTER} AS w_quarter,
           total_chars
    FROM per CROSS JOIN tot
)
SELECT source, n_chars, w_half, w_quarter,
       {_EPOCHS.format(w="w_half")}    AS epochs_half,
       {_EPOCHS.format(w="w_quarter")} AS epochs_quarter
FROM w
"""


@register(
    "q_mixture_temperature_weights",
    oracle=_MIXTURE_ORACLE,
    tags=("corpus", "mixture", "sampling", "llm-pipeline"),
)
def q_mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-sampling weights ``w_i ∝ n_i^α`` over
    character mass, at α = 0.5 and 0.25, plus the effective epochs each
    source is replayed for under a one-total-pass budget
    (``total · w_i / n_i`` — the low-resource upsampling factor the
    mixture implies). The standard multilingual-corpus balancing rule
    (mT5 §3.2, XLM-R §3.1) as one aggregate + broadcast-scalar join.

    Scale: the per-source rollup is a tiny aggregate; the totals row is
    a broadcast scalar. Everything after the groupBy is arithmetic on
    ≤ |sources| rows.
    """
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("n_chars"))
    )
    tot = per.agg(
        F.sum("n_chars").cast("long").alias("total_chars"),
        det_sum("sqrt(CAST(n_chars AS DOUBLE))").alias("t_half"),
        det_sum("sqrt(sqrt(CAST(n_chars AS DOUBLE)))").alias("t_quarter"),
    )
    w = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_chars",
        f"{_W_HALF} AS w_half",
        f"{_W_QUARTER} AS w_quarter",
        "total_chars",
    )
    return w.selectExpr(
        "source",
        "n_chars",
        "w_half",
        "w_quarter",
        f"{_EPOCHS.format(w='w_half')} AS epochs_half",
        f"{_EPOCHS.format(w='w_quarter')} AS epochs_quarter",
    )
