"""Round-7 catalog additions.

Registered LAST in plans/all_queries.py so the driver's
unverified-first sampling picks the new names up immediately (the
round-6 catalog is fully verified, so this round's sample starts
here).

1. ``q_watermark_dedup_twin`` — batch twin of
   streaming/events.py::dedup_within_watermark (the last §2.7 operator
   without a driver-hash row, round-6 verdict item 3): simulate the
   duplicate-ingest scenario (every event re-arrives 10 minutes later,
   inside the 60-minute watermark), keep the earliest arrival per
   event_id, and emit the per-type audit a pipeline would verify after
   an exactly-once-ish ingest. Streamed-output ≡ twin is pinned by
   tests/test_streaming.py::test_watermark_dedup_stream_equals_twin.
2. ``q_doc_length_order_stats`` — EXACT p50/90/99 document length via
   the distributed order-statistic path (no approx sketch, no
   single-task rank window).
3. ``q_length_decile_concentration`` — character-mass Lorenz table
   over exact distributed length deciles.
4. ``q_corpus_packing_offsets`` — contiguous token-stream layout
   manifest: global token offsets as distributed exclusive prefix
   sums (the index a pretraining data loader needs).
5. ``q_systematic_sample_stride`` — every k-th doc of the ordered
   corpus (deterministic spot-audit draw), positions from the
   distributed zipWithIndex.
6. ``q_prefix_dup_families`` — templated-intro probe: md5 of the
   first 96 chars → multi-doc prefix family mass per source.
7. ``q_dedup_keeper_source_shift`` — mixture-bias audit of dedup:
   per-source corpus share before vs after near-dup clusters collapse
   to their keeper (CC labels replayed in the oracle).
8. ``q_cluster_safe_split`` — train/val/test split hashed on the
   CLUSTER id so near-dup families never straddle splits, with the
   count of documents a naive per-doc hash split would have leaked.

2-6 are built on operators/distributed_rank.py (this round's
primitive); 7-8 compose the hash-verified connected-components labels.
Float discipline per the house recipes (det_sum fold; single
divisions; BIGINT casts on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cost_of_living_data_etl_spark.functions.checkpoints import eager_checkpoint
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# 1. batch twin of dropDuplicatesWithinWatermark
# --------------------------------------------------------------------------

#: simulated duplicate-arrival delay — inside the operator's 60-minute
#: watermark, so the streamed dedup is REQUIRED to drop every copy
DUP_DELAY_MIN = 10

_WATERMARK_DEDUP_ORACLE = f"""
WITH ingest AS (
    SELECT event_id, event_type, ts, value FROM events
    UNION ALL
    SELECT event_id, event_type,
           ts + INTERVAL {DUP_DELAY_MIN} MINUTE, value
    FROM events
),
kept AS (
    -- dropDuplicatesWithinWatermark(event_id) semantics on an ingest
    -- where every id re-arrives within the watermark: exactly one row
    -- per event_id survives; the twin pins the EARLIEST arrival (the
    -- payload is identical across copies, so only ts needs the rule)
    SELECT event_id, event_type, value, min(ts) AS ts
    FROM ingest GROUP BY event_id, event_type, value
)
SELECT k.event_type,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST((SELECT count(*) FROM ingest i
             WHERE i.event_type = k.event_type) AS BIGINT) AS n_ingested,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value))),
                   (a, b) -> a + b) AS value_total,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM kept k
GROUP BY k.event_type
"""


@register(
    "q_watermark_dedup_twin",
    oracle=_WATERMARK_DEDUP_ORACLE,
    tags=("streaming-twin", "dedup", "watermark", "exactly-once"),
)
def q_watermark_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/events.py::dedup_within_watermark
    (``dropDuplicatesWithinWatermark(["event_id"])``): every event
    re-arrives {DUP_DELAY_MIN} minutes late — INSIDE the 60-minute
    watermark, so the streaming operator guarantees each duplicate is
    dropped while its id is still in state — and the twin keeps the
    earliest arrival per event_id, then emits the per-type ingest
    audit (unique vs ingested counts, value total, ts span) an
    exactly-once pipeline checks after the dedup stage.

    Kept-row determinism: within one micro-batch the streaming
    operator keeps an ARBITRARY copy, so the twin pins the
    ts-independent projection (ids, counts, value sums — the copies'
    payloads are identical) plus the earliest-arrival ts as the batch
    rule; tests/test_streaming.py asserts the streamed output matches
    the twin on the deterministic projection.

    Scale: the dedup is one groupBy(event_id) — partial-aggregated,
    no window; state in the STREAMING form is watermark-bounded
    (only ids younger than 60 minutes), which is the whole point of
    dropDuplicatesWithinWatermark over a global dropDuplicates.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    ingest = ev.unionAll(
        ev.withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {DUP_DELAY_MIN} MINUTES")
        )
    )
    kept = ingest.groupBy("event_id", "event_type", "value").agg(
        F.min("ts").alias("ts")
    )
    ingested = ingest.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_ingested")
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            det_sum("value").alias("value_total"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .join(ingested, "event_type")
        .select(
            "event_type",
            "n_unique",
            F.col("n_ingested").cast("long").alias("n_ingested"),
            "value_total",
            "first_ts",
            "last_ts",
        )
    )


# --------------------------------------------------------------------------
# 2. exact corpus length order statistics (distributed selection)
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
# 3. length-decile concentration (who holds the corpus' character mass)
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
# 4. contiguous token-stream packing manifest (distributed prefix sums)
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
# 5. systematic (every k-th) corpus sample
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
# 6. templated-prefix duplicate families
# --------------------------------------------------------------------------

PREFIX_CHARS = 96

_PREFIX_DUP_ORACLE = f"""
WITH fam AS (
    SELECT source, md5(substr(text, 1, {PREFIX_CHARS})) AS pfx,
           count(*) AS fam_n
    FROM documents GROUP BY source, md5(substr(text, 1, {PREFIX_CHARS}))
)
SELECT source,
       CAST(sum(fam_n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_prefix_families,
       CAST(sum(CASE WHEN fam_n > 1 THEN fam_n ELSE 0 END) AS BIGINT)
         AS n_templated_docs,
       sum(CASE WHEN fam_n > 1 THEN fam_n ELSE 0 END) * 1.0 / sum(fam_n)
         AS templated_rate,
       CAST(max(fam_n) AS BIGINT) AS max_family
FROM fam GROUP BY source
"""


@register(
    "q_prefix_dup_families",
    oracle=_PREFIX_DUP_ORACLE,
    tags=("dedup", "boilerplate", "curation"),
)
def q_prefix_dup_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-intro detection: group each source's documents by the
    md5 of their first {PREFIX_CHARS} characters and measure how much
    of the source lives in multi-document prefix families — the cheap
    probe for boilerplate openers (auto-generated pages, scraped
    templates) that full-document dedup misses because the BODIES
    differ. Complements q_boilerplate_ngram_coverage (which needs
    n-gram mining) with a single-pass groupBy: at 100 TB this is one
    partial-aggregated shuffle on (source, prefix-hash)."""
    docs = load_table(spark, sf_dir, "documents")
    fam = docs.groupBy(
        "source",
        F.md5(F.substring("text", 1, PREFIX_CHARS).cast("binary")).alias("pfx"),
    ).agg(F.count(F.lit(1)).alias("fam_n"))
    return fam.groupBy("source").agg(
        F.sum("fam_n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_prefix_families"),
        F.sum(F.when(F.col("fam_n") > 1, F.col("fam_n")).otherwise(0))
        .cast("long")
        .alias("n_templated_docs"),
        (
            F.sum(F.when(F.col("fam_n") > 1, F.col("fam_n")).otherwise(0))
            * F.lit(1.0)
            / F.sum("fam_n")
        ).alias("templated_rate"),
        F.max("fam_n").cast("long").alias("max_family"),
    )


# --------------------------------------------------------------------------
# 7. dedup keeper source shift (mixture bias audit of the dedup stage)
# --------------------------------------------------------------------------

# the connected-components oracle (doc_id, cluster_id) reused as a
# subquery by both cluster-composition operators below
from cost_of_living_data_etl_spark.operators.dedup import (  # noqa: E402
    _CLUSTERS_ORACLE,
)

_KEEPER_SHIFT_ORACLE = f"""
WITH cl AS ( {{clusters}} ),
j AS (
    SELECT d.source, d.n_chars,
           CASE WHEN d.doc_id = cl.cluster_id THEN 1 ELSE 0 END AS kept
    FROM documents d JOIN cl ON d.doc_id = cl.doc_id
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS all_docs,
           CAST(sum(kept) AS BIGINT) AS all_kept
    FROM j
)
SELECT j.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       sum(kept) * 1.0 / count(*) AS kept_rate,
       count(*) * 1.0 / max(t.all_docs) AS share_before,
       sum(kept) * 1.0 / max(t.all_kept) AS share_after,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_kept
FROM j CROSS JOIN tot t
GROUP BY j.source
"""


@register(
    "q_dedup_keeper_source_shift",
    oracle=_KEEPER_SHIFT_ORACLE.format(clusters=_CLUSTERS_ORACLE),
    tags=("dedup", "mixture", "bias-audit", "training-data"),
)
def q_dedup_keeper_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-bias audit of the dedup stage: per source, how the
    corpus share SHIFTS when near-dup clusters collapse to their
    keeper (min doc_id of the connected component — the production
    dedup output). A source that duplicates heavily (content farms,
    mirrors) loses share after dedup; training-mixture weights set on
    PRE-dedup counts silently over-weight it. share_before vs
    share_after is the correction factor a mixture designer applies.

    Composition: the hash-verified CC labels (q_dedup_clusters — star
    contraction, replayed in the oracle as the same recursive CTE)
    joined back to source labels; everything after
    the labels is one partial-aggregated groupBy(source) plus a
    broadcast 2-scalar total. Scale: inherits CC's edge-bounded
    shuffles; the audit adds one |docs| join on doc_id.
    """
    from cost_of_living_data_etl_spark.operators.dedup import q_dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    cl = q_dedup_clusters(spark, sf_dir)
    j = docs.join(cl, "doc_id").select(
        "source",
        "n_chars",
        F.when(F.col("doc_id") == F.col("cluster_id"), 1)
        .otherwise(0)
        .alias("kept"),
    )
    # ONE pass over j: the corpus totals are exact-integer sums of the
    # per-source rollup, so the labels+docs join no longer re-derives
    # for a separate global-total branch (round 9; the ratios divide
    # the same longs as before, so the doubles are bit-identical)
    per_source = (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
        # |sources| rows; without this the tot branch prunes the chars
        # columns, defeating ReuseExchange, and j derives twice anyway
        .transform(eager_checkpoint)
    )
    tot = per_source.groupBy().agg(
        F.sum("n_docs").cast("long").alias("all_docs"),
        F.sum("n_kept").cast("long").alias("all_kept"),
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_kept") * F.lit(1.0) / F.col("n_docs")).alias("kept_rate"),
        (F.col("n_docs") * F.lit(1.0) / F.col("all_docs")).alias(
            "share_before"
        ),
        (F.col("n_kept") * F.lit(1.0) / F.col("all_kept")).alias(
            "share_after"
        ),
        "chars_total",
        "chars_kept",
    )


# --------------------------------------------------------------------------
# 8. cluster-safe train/val/test split (near-dup leakage prevention)
# --------------------------------------------------------------------------

_SPLIT_TRAIN_CUT = 80
_SPLIT_VAL_CUT = 90

_CSPLIT_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast({k} AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT) % 100"
)
_CSPLIT_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
)

_CSPLIT_CASE = (
    "CASE WHEN {b} < " + str(_SPLIT_TRAIN_CUT) + " THEN 'train' "
    "WHEN {b} < " + str(_SPLIT_VAL_CUT) + " THEN 'val' ELSE 'test' END"
)

_CLUSTER_SPLIT_ORACLE = f"""
WITH cl AS ( {{clusters}} ),
assigned AS (
    SELECT cl.doc_id, cl.cluster_id,
           {_CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SQL.format(k="cl.cluster_id"))}
             AS split,
           {_CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SQL.format(k="cl.doc_id"))}
             AS naive_split
    FROM cl
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN naive_split <> split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_rescued
FROM assigned GROUP BY split
"""


@register(
    "q_cluster_safe_split",
    oracle=_CLUSTER_SPLIT_ORACLE.format(clusters=_CLUSTERS_ORACLE),
    tags=("training-prep", "split", "dedup", "leakage"),
)
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-leakage-safe train/val/test split: the split is a
    deterministic md5 bucket of the CLUSTER id, so every member of a
    near-dup family lands in the SAME split — a per-document hash
    split leaks paraphrases of training documents into the eval sets
    (the eval-contamination failure mode dedup papers warn about;
    q_leakage_safe_split_by_source solves the same problem at source
    grain, this is the fine-grained version). ``n_docs_rescued``
    counts documents whose naive per-doc split would have DISAGREED
    with their family's split — the leakage surface this operator
    closes.

    Scale: CC labels (edge-bounded shuffles) + one map-side md5 per
    row + one groupBy(split) to 3 rows. Same split cuts (80/10/10)
    and md5-bucket idiom as q_train_val_test_split, so the two
    operators compose.
    """
    from cost_of_living_data_etl_spark.operators.dedup import q_dedup_clusters

    cl = q_dedup_clusters(spark, sf_dir)
    assigned = cl.selectExpr(
        "doc_id",
        "cluster_id",
        _CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SPARK.format(k="cluster_id"))
        + " AS split",
        _CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SPARK.format(k="doc_id"))
        + " AS naive_split",
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum(F.when(F.col("naive_split") != F.col("split"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_rescued"),
    )
