"""Reshape & sampling operators: pivot, unpivot/melt, array explode
with position, deterministic sampling, and train/val/test splits.

The sampling/split family is the training-data-pipeline shape: splits
must be DETERMINISTIC (same row → same split on every run and every
cluster size), so assignment is a pure function of a stable key
(md5-derived integer mod 100) rather than Bernoulli RNG — that is what
makes the DuckDB oracles able to match bit-for-bit, and what makes a
100 TB re-run reproducible after adding data.

Systematic samples (`q_systematic_sample_stride`, and the
probability-proportional-to-size `q_pps_char_weighted_sample`) and the
batching layouts (`q_corpus_packing_offsets`, the token-stream offset
manifest; `q_padding_waste_buckets`, pad-to-power-of-2 waste per
length bucket) take positions and prefix sums from
operators/distributed_rank.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# stable 0..99 bucket from any key column (cast to string first).
# Same md5-prefix-as-int trick the dedup family uses: 15 hex digits
# fit int64 exactly on both engines.
_BUCKET_SPARK = "cast(conv(substring(md5(cast({k} AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"
_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PRIORITY_ALIAS = {
    "1-URGENT": "n_urgent",
    "2-HIGH": "n_high",
    "3-MEDIUM": "n_medium",
    "4-NOT SPECIFIED": "n_notspec",
    "5-LOW": "n_low",
}


@register(
    "q_pivot_priority_counts",
    oracle=f"""
    SELECT
        o_orderstatus,
        {", ".join(
            f"CAST(count(*) FILTER (WHERE o_orderpriority = '{p}') AS BIGINT)"
            f" AS {_PRIORITY_ALIAS[p]}"
            for p in PRIORITIES
        )}
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("pivot", "agg"),
)
def q_pivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status × priority (long → wide).

    The pivot value list is EXPLICIT — with it, Spark skips the extra
    distinct-values job and the plan is a single hash aggregate with
    one conditional count per cell, identical cost to Q1. Never leave
    pivot values implicit at scale: the inference pass is a full extra
    scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(PRIORITIES))
        .agg(F.count(F.lit(1)))
    )
    renamed = wide.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(_PRIORITY_ALIAS[p]) for p in PRIORITIES],
    )
    return renamed


@register(
    "q_unpivot_charge_components",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'extendedprice' AS component, l_extendedprice AS amount
    FROM lineitem WHERE l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount_amt', l_extendedprice * l_discount
    FROM lineitem WHERE l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax_amt', l_extendedprice * (1 - l_discount) * l_tax
    FROM lineitem WHERE l_linenumber = 1
    """,
    tags=("unpivot", "melt"),
)
def q_unpivot_charge_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: charge components wide → long (3 rows per line).

    DataFrame.unpivot expands in-place per input row (Generate node,
    no shuffle, no join) — the oracle's UNION ALL of three scans shows
    what it replaces: one scan instead of three.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    charges = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("extendedprice"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("discount_amt"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax")
        ).alias("tax_amt"),
    )
    return charges.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["extendedprice", "discount_amt", "tax_amt"],
        "component",
        "amount",
    )


@register(
    "q_embedding_dim_stats",
    oracle="""
    WITH ex AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    per AS (
        SELECT dim,
               list_reduce(list_sort(list(v)),     (a, b) -> a + b) AS s,
               list_reduce(list_sort(list(v * v)), (a, b) -> a + b) AS ssq,
               CAST(count(*) AS BIGINT) AS n,
               min(v) AS min_v,
               max(v) AS max_v
        FROM ex GROUP BY dim
    )
    SELECT
        CAST(dim AS INT)                         AS dim,
        s / n                                    AS mean_v,
        sqrt(greatest(ssq - (s * s) / n, CAST(0.0 AS DOUBLE))
             / (n - 1))                          AS std_v,
        min_v,
        max_v
    FROM per
    """,
    tags=("array", "explode", "agg", "embeddings"),
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution stats of the embedding column.

    posexplode turns each vector into (dim, value) rows; the aggregate
    is map-side partial over |dims| groups. The feature-normalization
    precursor (mean/std per dim) every embedding pipeline needs.

    Float determinism: plain avg/stddev_samp partial aggregation sums
    in partition order, so the last ulps differ run-to-run and
    engine-to-engine (this query's hash was driver-red two rounds for
    exactly that). Both engines here fold the per-dim values in
    ascending sorted order from the same initial 0.0 and derive
    mean/std from those sums with the identical IEEE expression —
    bit-identical results (the sketch/quantizer oracle trick). The
    sorted-fold form is the oracle-replay variant: at 100 TB you'd run
    the plain partial-agg form (one shuffle over 64 groups, no
    collect_list) and accept ulp drift; correctness pinning is what
    demands the deterministic order.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode("embedding").alias("dim0", "v")
    ).select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    per = exploded.groupBy("dim").agg(
        det_sum("v").alias("s"),
        det_sum("v * v").alias("ssq"),
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    n = F.col("n")
    s = F.col("s")
    ssq = F.col("ssq")
    return per.select(
        "dim",
        (s / n).alias("mean_v"),
        # greatest(·, 0): cancellation in ssq - s²/n can dip negative
        # for near-constant dims — NaN on Spark, a hard ERROR on
        # DuckDB's sqrt; identical clamp both engines
        F.sqrt(F.greatest(ssq - (s * s) / n, F.lit(0.0)) / (n - 1)).alias(
            "std_v"
        ),
        "min_v",
        "max_v",
    )


@register(
    "q_deterministic_sample",
    oracle=f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled, CAST(min(doc_id) AS BIGINT) AS min_id
    FROM documents
    WHERE {_BUCKET_SQL.format(k="doc_id")} < 10
    GROUP BY lang
    """,
    tags=("sampling", "deterministic"),
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample via hash-bucket predicate.

    Unlike df.sample() (Bernoulli RNG: different rows per run, per
    partitioning, per Spark version), hash(doc_id) % 100 < 10 is a pure
    row predicate: reproducible everywhere, evaluates in the scan
    stage, and composes with incremental loads (new rows don't reshuffle
    old ones between sample/rest).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.expr(_BUCKET_SPARK.format(k="doc_id")) < 10)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("min_id"))
    )


PACK_BUDGET = 2048  # characters per packed sequence (token stand-in)
N_SHARDS = 8


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH sharded AS (
        SELECT doc_id, n_chars,
               {_BUCKET_SQL.format(k="doc_id")} % {N_SHARDS} AS shard
        FROM documents
    ),
    cum AS (
        SELECT shard, doc_id, n_chars,
               sum(n_chars) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS cum_before
        FROM sharded
    ),
    binned AS (
        SELECT shard, doc_id, n_chars,
               CAST(coalesce(cum_before, 0) // {PACK_BUDGET} AS BIGINT) AS bin_id
        FROM cum
    )
    SELECT
        CAST(shard AS BIGINT)    AS shard,
        bin_id,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM binned
    GROUP BY shard, bin_id
    """,
    tags=("packing", "window", "training-data"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign documents to ~2048-char
    bins within hash shards (streaming chunking policy: a bin closes
    when the running total crosses the budget; the straddling doc
    starts the next bin's budget accounting).

    The LLM-pretraining packing shape, fully distributed: shard
    assignment is a hash (embarrassingly parallel), bin assignment is
    one window cumsum per shard — no sequential driver loop, no
    per-bin state. Shards bound the window partition size, so at
    100 TB you raise N_SHARDS until each shard fits an executor's
    sort buffer.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = (F.expr(_BUCKET_SPARK.format(k="doc_id")) % N_SHARDS).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = (
        docs.select(shard, "doc_id", "n_chars")
        .withColumn(
            "bin_id",
            (F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / PACK_BUDGET)
            .cast("bigint"),
        )
    )
    return binned.groupBy(F.col("shard").cast("bigint").alias("shard"), "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "q_quality_percentile_filter",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           min(n_chars)             AS min_chars_kept
    FROM ranked
    WHERE pr >= 0.25
    GROUP BY lang
    """,
    tags=("filtering", "window", "training-data"),
)
def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-cutoff filtering: drop the bottom quartile (by length
    proxy) WITHIN each language, keep per-lang survivors' stats.

    Per-group relative cutoffs (not a global threshold) are how
    pretraining filters avoid wiping out low-resource languages. One
    window per lang partition; at scale the percent_rank can be
    replaced by approx_percentile thresholds computed in a first pass
    to avoid the per-group sort — semantics identical to 1e-2.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id", "lang", "n_chars", F.percent_rank().over(w).alias("pr")
    )
    return (
        ranked.filter(F.col("pr") >= 0.25)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("n_chars").alias("min_chars_kept"),
        )
    )


@register(
    "q_train_val_test_split",
    oracle=f"""
    SELECT
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT lang, n_chars, {_BUCKET_SQL.format(k="doc_id")} AS b FROM documents)
    GROUP BY split, lang
    """,
    tags=("sampling", "split", "deterministic"),
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment, deterministic per doc_id.

    The split column is a pure function of the id — adding documents
    never moves an existing document between splits (no leakage drift
    across dataset versions). Counts per (split, lang) audit the
    stratification.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = F.expr(_BUCKET_SPARK.format(k="doc_id"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# per-language sampling rates (percent) — downsample the dominant
# language, keep more of the rarer ones: the standard corpus-rebalance
# move before training-mixture construction.
STRATA_RATES = {"en": 10, "de": 40, "es": 40, "fr": 40, "zh": 40}
DEFAULT_RATE = 20

_RATE_CASE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in STRATA_RATES.items()
) + f" ELSE {DEFAULT_RATE} END"


@register(
    "q_stratified_sample_by_lang",
    oracle=f"""
    SELECT
        lang,
        CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(CASE WHEN {_BUCKET_SQL.format(k="doc_id")} < {_RATE_CASE_SQL}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        CAST(min(CASE WHEN {_BUCKET_SQL.format(k="doc_id")} < {_RATE_CASE_SQL}
                      THEN doc_id END) AS BIGINT) AS min_sampled_id
    FROM documents
    GROUP BY lang
    """,
    tags=("sampling", "stratified", "deterministic"),
)
def q_stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language rates (heavy
    downsample of the dominant 'en' stratum, lighter elsewhere) via the
    same hash-bucket predicate as q_deterministic_sample — this is
    df.sampleBy() made reproducible.

    Scale shape: the rate lookup is a constant CASE expression folded
    into the scan-stage filter — zero joins, zero extra passes; the
    only shuffle is the per-language count rollup on a 5-value key.
    Adding data never resamples old rows (pure function of doc_id), so
    incremental corpus builds stay consistent across runs.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.expr(_RATE_CASE_SQL)
    in_sample = F.expr(_BUCKET_SPARK.format(k="doc_id")) < rate
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(in_sample, 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.min(F.when(in_sample, F.col("doc_id"))).cast("long").alias("min_sampled_id"),
    )


MIX_ALPHA = 0.3  # temperature exponent: p^α rebalancing of language shares


@register(
    "q_lang_mixture_weights",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT sum(n_docs) AS total FROM c),
    s AS (
        SELECT lang, n_docs,
               n_docs / CAST(total AS DOUBLE)            AS p_raw,
               pow(n_docs / CAST(total AS DOUBLE), {MIX_ALPHA}) AS pa
        FROM c, t
    ),
    d AS (SELECT sum(pa) AS denom FROM s)
    SELECT lang,
           CAST(n_docs AS BIGINT)   AS n_docs,
           p_raw,
           pa / denom               AS mix_weight,
           (pa / denom) / p_raw     AS upsample_factor
    FROM s, d
    """,
    tags=("sampling", "mixture", "training-data"),
)
def q_lang_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture: rebalance raw language
    shares p_l to p_l^α / Σ p_m^α (α = {MIX_ALPHA}) — the standard
    multilingual-pretraining move that boosts low-resource languages
    without flattening the distribution; upsample_factor is the
    per-language epoch multiplier a sampler applies.

    Scale shape: one partial-agg count per language, then all the
    exponent math runs on a |langs|-row frame (a broadcast scalar for
    the total, one trivial window for the normalizer) — corpus size
    only ever touches the first count.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    s = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("p_raw", F.col("n_docs") / F.col("total").cast("double"))
        .withColumn("pa", F.pow(F.col("p_raw"), F.lit(MIX_ALPHA)))
    )
    denom = s.agg(F.sum("pa").alias("denom"))
    return s.crossJoin(F.broadcast(denom)).select(
        "lang",
        "n_docs",
        "p_raw",
        (F.col("pa") / F.col("denom")).alias("mix_weight"),
        ((F.col("pa") / F.col("denom")) / F.col("p_raw")).alias("upsample_factor"),
    )


WSAMPLE_K = 20
# md5-derived uniform in (0,1): 53 bits of the doc_id hash, +1 so u>0.
_U_SPARK = (
    "(cast(conv(substring(md5(cast(doc_id AS STRING)), 1, 13), 16, 10) AS DOUBLE) + 1.0)"
    " / 4503599627370497.0"
)
_U_SQL = (
    "(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) + 1.0)"
    " / 4503599627370497.0"
)


@register(
    "q_weighted_sample_topk",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           pow({_U_SQL}, 1.0 / n_chars) AS sample_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY sample_key DESC, doc_id
    LIMIT {WSAMPLE_K}
    """,
    tags=("sampling", "weighted", "deterministic", "training-data"),
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis A-ES):
    each document draws a pseudo-uniform u from md5(doc_id) and gets
    key u^(1/weight); the global top-k by key IS a weighted sample
    without replacement — here weighted by n_chars (longer docs
    proportionally likelier), in production by a quality score.

    The standard trick made reproducible: the "random" draw is a pure
    function of the row key, so the same corpus yields the same sample
    on any cluster, any partitioning, any rerun — and an oracle can
    replay it. Scale shape: key computation folds into the scan
    projection, and the k-cut is TakeOrderedAndProject (each partition
    surfaces k candidates; no global sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.pow(F.expr(_U_SPARK), 1.0 / F.col("n_chars"))
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "lang", "n_chars", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )


@register(
    "q_leakage_safe_split_by_source",
    oracle=f"""
    WITH assigned AS (
        SELECT
            CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
            source, n_chars
        FROM (SELECT source, n_chars, {_BUCKET_SQL.format(k="source")} AS b
              FROM documents)
    )
    SELECT split,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT)               AS n_docs,
           CAST(sum(n_chars) AS BIGINT)           AS total_chars
    FROM assigned
    GROUP BY split
    """,
    tags=("sampling", "split", "leakage", "group-aware"),
)
def q_leakage_safe_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split: the split is a function of
    ``source``, not doc_id, so every document from one acquisition
    source lands in the SAME split — the GroupShuffleSplit discipline
    that prevents near-duplicate leakage across splits (two crawls of
    one site straddling train and test inflates eval scores; a
    doc-keyed split like q_train_val_test_split cannot prevent that).

    Disjointness is by construction (same key ⇒ same bucket ⇒ same
    split), not by checking: no shuffle is spent proving it. The audit
    output (sources/docs/chars per split) is what a curation review
    needs to see the group-split's size skew — group splits trade
    exact 80/10/10 proportions for leakage safety, and the skew grows
    with per-source volume variance.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = F.expr(_BUCKET_SPARK.format(k="source"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "source", "n_chars")
        .groupBy("split")
        .agg(
            F.count_distinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


TARGET_TOKENS = 1_000_000_000  # training-run token budget the mixture fills


@register(
    "q_mixture_token_budget",
    oracle=f"""
    WITH c AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) // 4 AS tokens_available
        FROM documents GROUP BY lang
    ),
    t AS (SELECT sum(n_docs) AS total FROM c),
    s AS (
        SELECT lang, n_docs, tokens_available,
               pow(n_docs / CAST(total AS DOUBLE), {MIX_ALPHA}) AS pa
        FROM c, t
    ),
    d AS (SELECT sum(pa) AS denom FROM s)
    SELECT lang,
           CAST(n_docs AS BIGINT)                          AS n_docs,
           tokens_available,
           pa / denom                                      AS mix_weight,
           round((pa / denom) * {TARGET_TOKENS}, 0)        AS tokens_assigned,
           round((pa / denom) * {TARGET_TOKENS}, 0)
             / tokens_available                            AS epochs
    FROM s, d
    """,
    tags=("sampling", "mixture", "training-data", "planner"),
)
def q_mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation table for a training run: distribute a
    TARGET_TOKENS budget across languages by the temperature-scaled
    mixture (same p^α rebalancing as q_lang_mixture_weights) and report
    per-language epochs = assigned / available — epochs > 1 means that
    language repeats during training, the number a data-mixture review
    actually signs off on.

    Two tiny aggregations (per-lang rollup, 1-row totals broadcast
    back); the char→token proxy (4 chars/token) stays integer via
    shared integer division. tokens_assigned is pinned to the integer
    grid with round(..., 0) so the epochs quotient divides identical
    operands on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("long") / F.lit(4)).cast("long").alias(
            "tokens_available"
        ),
    )
    total = c.agg(F.sum("n_docs").alias("total"))
    s = c.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        "tokens_available",
        F.pow(F.col("n_docs") / F.col("total").cast("double"), MIX_ALPHA).alias("pa"),
    )
    denom = s.agg(F.sum("pa").alias("denom"))
    w = F.col("pa") / F.col("denom")
    assigned = F.round(w * TARGET_TOKENS, 0)
    return s.crossJoin(F.broadcast(denom)).select(
        "lang",
        "n_docs",
        "tokens_available",
        w.alias("mix_weight"),
        assigned.alias("tokens_assigned"),
        (assigned / F.col("tokens_available")).alias("epochs"),
    )


# --------------------------------------------------------------------------
# Padding-waste buckets (length-bucketed batching efficiency)
# --------------------------------------------------------------------------

_PADDING_ORACLE = r"""
WITH t AS (
    SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(string_split_regex(trim(text), '\s+')) END
           AS BIGINT) AS n_tokens
    FROM documents
),
b AS (
    SELECT n_tokens,
           CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)
                ELSE CAST(1 AS BIGINT) << length(bin(n_tokens - 1)) END
             AS bucket_cap
    FROM t
)
SELECT bucket_cap,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
       CAST(count(*) * bucket_cap AS BIGINT) AS slot_sum,
       CAST(count(*) * bucket_cap - sum(n_tokens) AS BIGINT) AS padding_tokens,
       (count(*) * bucket_cap - sum(n_tokens)) * 1.0
         / (count(*) * bucket_cap) AS waste_frac
FROM b
GROUP BY bucket_cap
"""


@register(
    "q_padding_waste_buckets",
    oracle=_PADDING_ORACLE,
    tags=("training-prep", "tokens", "batching"),
)
def q_padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching waste: pad every doc to the next
    power-of-2 token length and report slots, padding tokens, and the
    waste fraction per bucket — the numbers that decide between
    bucketed dynamic batching and q_pack_sequences-style packing for
    a pretraining run (packing wastes ~0 but splits docs; bucketing
    keeps docs intact at the cost measured here).

    The bucket cap is computed in INTEGER arithmetic on both engines
    (bit-length of n_tokens−1, then a shift) — no float log2 at the
    exact-power-of-two boundaries. Map-only until a
    |buckets|-cardinality aggregate; integer sums, one division.
    North-star extension (SURVEY.md §2.8 training-data prep); no
    reference analogue.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.selectExpr(
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0"
        r" ELSE size(split(trim(text), '\\s+')) END AS BIGINT) AS n_tokens"
    )
    b = t.selectExpr(
        "n_tokens",
        "CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)"
        " ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens - 1)))"
        " END AS bucket_cap",
    )
    cap = F.col("bucket_cap")  # grouping key, directly referencable
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_sum"),
        (F.count(F.lit(1)) * cap).cast("long").alias("slot_sum"),
        (F.count(F.lit(1)) * cap - F.sum("n_tokens"))
        .cast("long")
        .alias("padding_tokens"),
        (
            (F.count(F.lit(1)) * cap - F.sum("n_tokens"))
            * F.lit(1.0)
            / (F.count(F.lit(1)) * cap)
        ).alias("waste_frac"),
    )


# --------------------------------------------------------------------------
# contiguous token-stream packing manifest (distributed prefix sums)
# --------------------------------------------------------------------------

_TOKENS_SQL = (
    "CAST(CASE WHEN length(trim(text)) = 0 THEN 0"
    " ELSE length(string_split_regex(trim(text), '\\s+')) END AS BIGINT)"
)

_PACKING_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, {_TOKENS_SQL} AS n_tokens FROM documents
),
off AS (
    SELECT doc_id, source, n_tokens,
           coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t0
    FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       CAST(min(t0) AS BIGINT) AS first_offset,
       CAST(max(t0 + n_tokens) AS BIGINT) AS last_offset
FROM off GROUP BY source
"""


@register(
    "q_corpus_packing_offsets",
    oracle=_PACKING_ORACLE,
    tags=("training-prep", "packing", "distributed-rank"),
)
def q_corpus_packing_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-stream layout manifest: pack the doc_id-ordered
    corpus into one token stream (the pretraining data-loader view) and
    report each source's span in it — first/last global token offset,
    token mass, doc count. The offsets are what an index-based loader
    (sample i ↦ token range) needs; materializing them is a
    distributed EXCLUSIVE prefix sum over per-doc token counts
    (operators/distributed_rank.py — doc_id div 4096 bucket, exact
    BIGINT arithmetic), never a single-partition running-total window.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_prefix_sums,
    )
    from cost_of_living_data_etl_spark.operators.textstats import (
        whitespace_token_count,
    )

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        whitespace_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    off = with_prefix_sums(
        t, ["doc_id"], F.floor(F.col("doc_id") / F.lit(4096)), {"n_tokens": "t0"}
    )
    return off.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.min("t0").cast("long").alias("first_offset"),
        F.max(F.col("t0") + F.col("n_tokens")).cast("long").alias("last_offset"),
    )


# --------------------------------------------------------------------------
# systematic (every k-th) corpus sample
# --------------------------------------------------------------------------

SAMPLE_STRIDE = 7

_SYSTEMATIC_ORACLE = f"""
WITH r AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (ORDER BY doc_id) - 1 AS pos
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS chars_sampled,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id
FROM r WHERE pos % {SAMPLE_STRIDE} = 0
GROUP BY source
"""


@register(
    "q_systematic_sample_stride",
    oracle=_SYSTEMATIC_ORACLE,
    tags=("sampling", "eval-prep", "distributed-rank"),
)
def q_systematic_sample_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic sample — every {SAMPLE_STRIDE}-th document of the
    doc_id-ordered corpus — summarized per source. Systematic sampling
    is the human-eval / spot-audit draw when you want deterministic,
    evenly-spaced coverage of the corpus ORDER (hash sampling is
    uniform but order-blind; this catches position-correlated drift
    like "the last shard is garbage"). Positions come from the
    distributed zipWithIndex (operators/distributed_rank.py), so the
    stride filter is map-side after one bucketed scan — no
    single-partition row_number."""
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    pos = with_global_position(
        docs, ["doc_id"], F.floor(F.col("doc_id") / F.lit(4096))
    )
    return (
        pos.filter(F.col("pos") % SAMPLE_STRIDE == 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("chars_sampled"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# PPS systematic sample over character mass
# --------------------------------------------------------------------------

PPS_DRAWS = 20

_PPS_ORACLE = f"""
WITH c AS (
    SELECT doc_id, n_chars,
           CAST(coalesce(sum(n_chars) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cb
    FROM documents
),
tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w FROM documents),
grid AS (
    SELECT i, CAST(((2 * i + 1) * (SELECT w FROM tot)) // {2 * PPS_DRAWS} AS BIGINT) AS g
    FROM range({PPS_DRAWS}) t(i)
)
SELECT CAST(i AS INT)        AS draw_idx,
       doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       cb                    AS cum_before
FROM grid JOIN c ON g >= cb AND g < cb + n_chars
"""


@register(
    "q_pps_char_weighted_sample",
    oracle=_PPS_ORACLE,
    tags=("corpus", "sampling", "pps", "distributed-rank"),
)
def q_pps_char_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample: lay PPS_DRAWS centered grid points over
    the cumulative character mass (ordered by doc_id) and select the
    document whose [cum_before, cum_before+n_chars) interval contains
    each point — every document drawn with probability ∝ its size, the
    right audit draw when inspection cost scales with length (a
    doc longer than the stride can absorb several draws; that is the
    PPS contract, not a bug).

    Exactness: all-BIGINT — grid points are integer DIV of exact char
    totals, intervals are exclusive prefix sums
    (operators/distributed_rank.py), membership is integer compares.

    Scale: prefix sums are the bucket-partitioned scan (no single-task
    window); the PPS_DRAWS-row grid broadcast-joins against the
    interval frame (BroadcastNestedLoopJoin over a constant-size build
    side), so the pass stays one scan + the primitive's bounded
    exchanges at any corpus size.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_prefix_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c = with_prefix_sums(
        docs,
        ["doc_id"],
        F.floor(F.col("doc_id") / F.lit(4096)),
        {"n_chars": "cum_before"},
    )
    tot = docs.groupBy().agg(F.sum("n_chars").cast("long").alias("w"))
    grid = (
        spark.range(PPS_DRAWS)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("id").cast("int").alias("draw_idx"),
            F.expr(f"(2 * id + 1) * w DIV {2 * PPS_DRAWS}").alias("g"),
        )
    )
    return (
        c.join(
            F.broadcast(grid),
            (F.col("g") >= F.col("cum_before"))
            & (F.col("g") < F.col("cum_before") + F.col("n_chars")),
        )
        .select(
            "draw_idx",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("cum_before").cast("long").alias("cum_before"),
        )
    )
