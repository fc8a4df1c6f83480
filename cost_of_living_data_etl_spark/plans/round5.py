"""Round-5 catalog additions.

Thirteen operators widening the analytics + LLM-pipeline surface:
as-of join, containment dedup, robust/winsorized stats, truncated
EWMA, reproducible hash sampling, l-diversity, contrastive negative
sampling, corpus mixture diagnostics, quantile normalization,
context-window utilization, dedup inflation, log-log elasticity, IQR
fences. Registered LAST (see plans/all_queries.py) so the driver's
unverified-first sampling clears the older pending queries before
these take sample slots.

Float discipline follows the house parity recipes: one shared SQL
text per computed expression, det_sum folds wherever a double sum
crosses an aggregation, counts cast to BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.operators.dedup import (
    _CLUSTERS_ORACLE,
    minhash_pair_plan,
    star_components,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# 1. as-of join: each purchase ↔ the user's latest view at-or-before it
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH ve AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
    FROM events WHERE event_type IN ('view', 'purchase')
),
joined AS (
    SELECT user_id, ts, event_id, kind,
           max(CASE WHEN kind = 0 THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_view_ts
    FROM ve
)
SELECT CAST(event_id AS BIGINT) AS purchase_id,
       CAST(user_id AS BIGINT) AS user_id,
       ts AS purchase_ts,
       last_view_ts,
       epoch(ts) - epoch(last_view_ts) AS gap_seconds
FROM joined
WHERE kind = 1 AND last_view_ts IS NOT NULL
"""


@register(
    "q_asof_join_purchase_view",
    oracle=_ASOF_ORACLE,
    tags=("join", "asof", "event-time"),
)
def q_asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN — the time-series join Spark has no native operator
    for (kdb `aj`, DuckDB `ASOF JOIN`, Flink temporal join): each
    purchase matched to the same user's latest view at-or-before it.

    Composition shape: UNION the two sides with a kind marker, one
    window pass per user ordered by ts with a RANGE frame (ties at
    identical ts are ALL in-frame, so the result is deterministic
    without a tiebreak column), keep the right-side rows. One shuffle
    on user_id total — versus the naive equi-join-then-filter-then-
    argmax which shuffles the |views|×|purchases| per-user product.
    At 100 TB this is the canonical log-enrichment join (impressions
    as-of features, trades as-of quotes).
    """
    ve = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .selectExpr(
            "user_id",
            "ts",
            "event_id",
            "CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind",
        )
    )
    joined = ve.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "kind",
        "max(CASE WHEN kind = 0 THEN ts END) OVER ("
        "PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts",
    )
    return joined.filter("kind = 1 AND last_view_ts IS NOT NULL").selectExpr(
        "CAST(event_id AS BIGINT) AS purchase_id",
        "CAST(user_id AS BIGINT) AS user_id",
        "ts AS purchase_ts",
        "last_view_ts",
        "CAST(ts AS DOUBLE) - CAST(last_view_ts AS DOUBLE) AS gap_seconds",
    )


# --------------------------------------------------------------------------
# 2. containment near-dup pairs (asymmetric: small doc inside big doc)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.7


def _containment_oracle() -> str:
    from cost_of_living_data_etl_spark.operators.dedup import (
        BANDS,
        SHINGLES_SQL,
        _band_hash_sql,
        _minhash_agg_sql,
        _SHINGLE_H_SQL,
    )

    return f"""
WITH sh AS (
    SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
),
ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
),
hx AS (
    SELECT doc_id, {_SHINGLE_H_SQL} AS h FROM ex
),
mh AS (
    SELECT doc_id, list(DISTINCT h) AS hset, {_minhash_agg_sql()}
    FROM hx GROUP BY doc_id
),
bands AS (
    {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {_band_hash_sql(b)} AS band_hash FROM mh"
        for b in range(BANDS)
    )}
),
candidates AS (
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
)
SELECT
    CAST(c.doc_id_1 AS BIGINT) AS doc_id_1,
    CAST(c.doc_id_2 AS BIGINT) AS doc_id_2,
    length(list_intersect(s1.hset, s2.hset)) * 1.0
      / least(length(s1.hset), length(s2.hset)) AS containment
FROM candidates c
JOIN mh s1 ON s1.doc_id = c.doc_id_1
JOIN mh s2 ON s2.doc_id = c.doc_id_2
WHERE length(list_intersect(s1.hset, s2.hset)) * 1.0
      / least(length(s1.hset), length(s2.hset)) >= {CONTAINMENT_THRESHOLD}
"""


@register(
    "q_containment_neardup_pairs",
    oracle=_containment_oracle(),
    tags=("dedup", "containment", "lsh"),
)
def q_containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.7 over
    hashed shingle sets, on MinHash band-join candidates.

    Jaccard misses the quote/boilerplate case an LLM pipeline cares
    about most — a short doc fully embedded in a long one scores
    |A|/|B| ≈ 0 Jaccard but 1.0 containment (Lee et al. 2022 dedup
    uses exactly this asymmetric test). Same signature table and
    candidate join as q_dedup_minhash_lsh (operators/dedup.py; shuffles
    ids + band hashes, never text); only the verification predicate
    differs. Note the recall caveat: MinHash collides on high JACCARD,
    so low-Jaccard/high-containment pairs are found only when the small
    doc still dominates a band — the production variant for exhaustive
    containment is the chunk-hash plan (q_crossdoc_substring_dups).
    """
    from cost_of_living_data_etl_spark.operators.dedup import (
        hset_containment,
        join_hsets,
        lsh_candidates,
        signature_table,
    )

    # max_bucket=None: the oracle replays the uncapped band join under
    # every profile
    mh = signature_table(spark, sf_dir)
    return (
        join_hsets(lsh_candidates(mh, max_bucket=None), mh)
        .withColumn("containment", hset_containment())
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_id_1", "doc_id_2", "containment")
    )


# --------------------------------------------------------------------------
# 3. winsorized mean price per brand (exact rank-based 5/95 clamp)
# --------------------------------------------------------------------------

_WINSOR_ORACLE = f"""
WITH r AS (
    SELECT p_brand, p_retailprice AS price,
           row_number() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
           ) AS rn,
           count(*) OVER (PARTITION BY p_brand) AS n
    FROM part
),
fences AS (
    SELECT p_brand,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
                    THEN price END) AS lo,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
                    THEN price END) AS hi
    FROM r GROUP BY p_brand
)
SELECT r.p_brand,
       CAST(max(r.n) AS BIGINT) AS n_parts,
       {_DSUM_SQL.format(x="least(greatest(r.price, f.lo), f.hi)")}
         / max(r.n) AS winsorized_mean,
       {_DSUM_SQL.format(x="r.price")} / max(r.n) AS raw_mean
FROM r JOIN fences f USING (p_brand)
GROUP BY r.p_brand
"""


@register(
    "q_winsorized_price_by_brand",
    oracle=_WINSOR_ORACLE,
    tags=("robust-stats", "winsorize", "aggregation"),
)
def q_winsorized_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95-winsorized mean retail price per brand next to the raw
    mean — the robust location estimate a pricing dashboard should
    show when a handful of luxury SKUs drag the arithmetic mean.

    Exact rank-based fences (the value at ceil(q·n), ties broken by
    p_partkey so both engines pick the identical row), then one
    grouped pass clamping into [lo, hi]. Scale shape: one window sort
    per brand partition + one grouped aggregate; fences are 2 doubles
    per brand. det_sum folds make the double sums oracle-replayable.
    """
    part = load_table(spark, sf_dir, "part")
    r = part.selectExpr(
        "p_brand",
        "p_retailprice AS price",
        "row_number() OVER (PARTITION BY p_brand "
        "ORDER BY p_retailprice, p_partkey) AS rn",
        "count(*) OVER (PARTITION BY p_brand) AS n",
    )
    fences = r.groupBy("p_brand").agg(
        F.expr(
            "max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))"
            " THEN price END)"
        ).alias("lo"),
        F.expr(
            "max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))"
            " THEN price END)"
        ).alias("hi"),
    )
    return (
        r.join(fences, "p_brand")
        .groupBy("p_brand")
        .agg(
            F.expr("CAST(max(n) AS BIGINT)").alias("n_parts"),
            (
                det_sum("least(greatest(price, lo), hi)") / F.expr("max(n)")
            ).alias("winsorized_mean"),
            (det_sum("price") / F.expr("max(n)")).alias("raw_mean"),
        )
    )


# --------------------------------------------------------------------------
# 4. truncated EWMA of daily revenue (unrolled 10-lag kernel)
# --------------------------------------------------------------------------

EWMA_ALPHA = 0.3
EWMA_LAGS = 10  # (1-α)^10 ≈ 0.028: documented truncation

#: exact literal weights shared by both engines: α·(1-α)^j
_EWMA_TERMS = " + ".join(
    f"({EWMA_ALPHA * (1 - EWMA_ALPHA) ** j!r} * lag(rev, {j}) OVER w)"
    for j in range(EWMA_LAGS)
)

_EWMA_ORACLE = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           {_DSUM_SQL.format(x="o_totalprice")} AS rev
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, rev,
           {_EWMA_TERMS} AS ewma,
           row_number() OVER w AS rn
    FROM daily
    WINDOW w AS (ORDER BY day)
)
SELECT day, rev, ewma
FROM seq WHERE rn > {EWMA_LAGS - 1}
ORDER BY day
"""


@register(
    "q_ewma_daily_revenue",
    oracle=_EWMA_ORACLE,
    tags=("forecast", "ewma", "time-series"),
)
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of daily
    revenue: ewma_t = Σ_{j<10} α(1-α)^j · rev_{t-j}, the smoothing
    line every revenue dashboard draws. Truncation at 10 lags drops
    (1-α)^10 ≈ 2.8% of the weight mass — documented, and what makes
    the recursion a FIXED windowed kernel both engines evaluate
    identically (the exact recursive form needs running state; its
    streaming twin is the transformWithStateInPandas EWMA operator).

    The weights are Python-repr'd float literals interpolated into ONE
    SQL text — bit-identical coefficients cross-engine. Scale: daily
    pre-aggregate (det_sum fold for replay) then a single ordered
    window over |days| rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("day")
    ).agg(det_sum("o_totalprice").alias("rev"))
    seq = daily.selectExpr(
        "day",
        "rev",
        f"{_EWMA_TERMS.replace('OVER w', 'OVER (ORDER BY day)')} AS ewma",
        "row_number() OVER (ORDER BY day) AS rn",
    )
    return (
        seq.filter(F.col("rn") > EWMA_LAGS - 1)
        .select("day", "rev", "ewma")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# 5. reproducible stratified hash sample
# --------------------------------------------------------------------------

SAMPLE_PER_STRATUM = 100

_SAMPLE_ORACLE = f"""
WITH h AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           md5(CAST(o_orderkey AS VARCHAR)) AS hk
    FROM orders
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority ORDER BY hk, o_orderkey
    ) AS rn
    FROM h
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_sampled,
       {_DSUM_SQL.format(x="o_totalprice")} AS sample_revenue,
       min(hk) AS min_hash, max(hk) AS max_hash
FROM ranked WHERE rn <= {SAMPLE_PER_STRATUM}
GROUP BY o_orderpriority
"""


@register(
    "q_stratified_hash_sample",
    oracle=_SAMPLE_ORACLE,
    tags=("sampling", "reproducible", "stratified"),
)
def q_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling: the {SAMPLE_PER_STRATUM}
    orders with smallest md5(orderkey) per priority stratum. Hash
    ordering is the production answer to "give me the same 1% sample
    on every run, every engine, any partitioning" — no RNG state, no
    seed plumbing, stable under data re-layout, and any engine can
    reproduce membership from the key alone. Emits per-stratum count,
    det_sum revenue, and the hash range as the audit trail.

    Scale: one window top-k per stratum (TakeOrdered-like; no global
    sort) — the same plan at any corpus size.
    """
    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.md5(F.col("o_orderkey").cast("string")).alias("hk"),
    )
    ranked = h.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY o_orderpriority "
        "ORDER BY hk, o_orderkey) AS rn",
    )
    return (
        ranked.filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            det_sum("o_totalprice").alias("sample_revenue"),
            F.min("hk").alias("min_hash"),
            F.max("hk").alias("max_hash"),
        )
    )


# --------------------------------------------------------------------------
# 6. l-diversity audit over a quasi-identifier release
# --------------------------------------------------------------------------

L_DIVERSITY = 2

_LDIV_ORACLE = f"""
SELECT o_orderpriority,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_sensitive,
       count(DISTINCT o_orderstatus) >= {L_DIVERSITY} AS l_diverse
FROM orders
GROUP BY o_orderpriority, extract(year FROM o_orderdate)
"""


@register(
    "q_l_diversity_audit",
    oracle=_LDIV_ORACLE,
    tags=("privacy", "l-diversity", "audit"),
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion to the k-anonymity scan in
    operators/pii.py: for each quasi-identifier cell (priority ×
    order year) of a hypothetical release, count distinct values of
    the sensitive attribute (order status). A k-anonymous cell whose
    members all share one sensitive value still leaks it
    (homogeneity attack); cells with n_sensitive < l must be
    generalized or suppressed before release. One grouped
    count-distinct — partial-aggregated, |cells| output rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        "o_orderpriority",
        F.expr("CAST(extract(year FROM o_orderdate) AS BIGINT)").alias(
            "order_year"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_orderstatus").cast("long").alias("n_sensitive"),
        (F.countDistinct("o_orderstatus") >= L_DIVERSITY).alias("l_diverse"),
    )


# --------------------------------------------------------------------------
# 7. deterministic negative sampling for contrastive training
# --------------------------------------------------------------------------

NEG_PER_DOC = 3

_NEG_ORACLE = f"""
WITH idx AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY doc_id) - 1 AS pos,
           count(*) OVER () AS n
    FROM documents
),
anchors AS (
    SELECT doc_id, pos, n,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
             AS hk
    FROM idx
),
cand AS (
    SELECT a.doc_id, a.pos, a.n, j.neg_rank,
           (a.hk + j.neg_rank * 2654435761) % a.n AS neg_pos
    FROM anchors a CROSS JOIN (
        {" UNION ALL ".join(f"SELECT {j} AS neg_rank" for j in range(1, NEG_PER_DOC + 1))}
    ) j
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(c.neg_rank AS BIGINT) AS neg_rank,
       CAST(i.doc_id AS BIGINT) AS neg_doc_id
FROM cand c JOIN idx i ON i.pos = c.neg_pos
WHERE i.doc_id <> c.doc_id
"""


@register(
    "q_negative_sampling_pairs",
    oracle=_NEG_ORACLE,
    tags=("training-prep", "contrastive", "sampling"),
)
def q_negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic in-corpus negatives for contrastive training:
    each anchor doc gets {NEG_PER_DOC} pseudo-random partners at
    positions (md5(doc_id) + j·knuth) mod n of the doc_id-ordered
    corpus — reproducible on any engine/partitioning (no RNG), ~
    uniform over the corpus, self-pairs dropped. The join back from
    sampled position to doc_id is the standard index-table pattern;
    shuffle carries (pos, id) pairs only. Corpus positions come from
    the distributed zipWithIndex (operators/distributed_rank.py —
    bucket-partitioned windows + bounded carry join), NOT a global
    row_number window, so no single task ever sees the whole corpus. Hard (similarity-mined)
    negatives are the separate q_hard_negative_mining operator — this
    is the uniform baseline every contrastive recipe starts from.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # distributed zipWithIndex (exact row_number()-1 equivalent, no
    # single-partition window): doc_id div 4096 is a deterministic
    # monotone bucket; n rides along from the helper's bucket rollup
    idx = with_global_position(
        docs, ["doc_id"], F.floor(F.col("doc_id") / F.lit(4096)), n_col="n"
    )
    anchors = idx.selectExpr(
        "doc_id",
        "pos",
        "n",
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 13), 16, 10)"
        " AS BIGINT) AS hk",
    )
    ranks = spark.range(1, NEG_PER_DOC + 1).selectExpr("id AS neg_rank")
    cand = anchors.crossJoin(F.broadcast(ranks)).selectExpr(
        "doc_id",
        "neg_rank",
        "(hk + neg_rank * 2654435761) % n AS neg_pos",
    )
    neg = idx.selectExpr("doc_id AS neg_doc_id", "pos AS neg_pos")
    return (
        cand.join(neg, "neg_pos")
        .filter(F.col("neg_doc_id") != F.col("doc_id"))
        .selectExpr(
            "CAST(doc_id AS BIGINT) AS doc_id",
            "CAST(neg_rank AS BIGINT) AS neg_rank",
            "CAST(neg_doc_id AS BIGINT) AS neg_doc_id",
        )
    )


# --------------------------------------------------------------------------
# 8. language-mixture entropy per source
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
# 9. quantile normalization of quality scores → decile mix per source
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
# 10. context-window utilization (token budget truncation report)
# --------------------------------------------------------------------------

CONTEXT_LEN = 256

_CTX_ORACLE = f"""
WITH t AS (
    SELECT source,
           CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN n_tokens > {CONTEXT_LEN} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_truncated,
       CAST(sum(CASE WHEN n_tokens > {CONTEXT_LEN}
                     THEN n_tokens - {CONTEXT_LEN} ELSE 0 END) AS BIGINT)
         AS tokens_lost,
       sum(CASE WHEN n_tokens > {CONTEXT_LEN}
                THEN n_tokens - {CONTEXT_LEN} ELSE 0 END) * 1.0
         / sum(n_tokens) AS loss_ratio
FROM t GROUP BY source
"""


@register(
    "q_context_window_utilization",
    oracle=_CTX_ORACLE,
    tags=("training-prep", "tokens", "truncation"),
)
def q_context_window_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget truncation report per source for a {CONTEXT_LEN}-
    token context window: docs over budget, tokens lost to
    truncation, and the loss ratio — the numbers that decide between
    truncating, chunking (q_chunk_documents), or packing
    (q_pack_sequences) a source. Whitespace tokenization matches the
    house token-counting convention; integer sums are
    order-insensitive so no det_sum fold is needed. Map-only until a
    |source|-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.selectExpr(
        "source",
        r"CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tokens",
    )
    over = F.when(
        F.col("n_tokens") > CONTEXT_LEN, F.col("n_tokens") - CONTEXT_LEN
    ).otherwise(F.lit(0))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum((F.col("n_tokens") > CONTEXT_LEN).cast("int"))
        .cast("long")
        .alias("n_truncated"),
        F.sum(over).cast("long").alias("tokens_lost"),
        (F.sum(over) * 1.0 / F.sum("n_tokens")).alias("loss_ratio"),
    )


# --------------------------------------------------------------------------
# 11. dedup inflation factor (how much does exact dup inflate a source?)
# --------------------------------------------------------------------------

_INFLATION_ORACLE = """
WITH t AS (
    SELECT doc_id, source, md5(text) AS h,
           CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
    FROM documents
),
reps AS (
    SELECT h, min(doc_id) AS rep_id FROM t GROUP BY h
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT t.h) AS BIGINT) AS n_unique_texts,
       CAST(sum(t.n_tokens) AS BIGINT) AS raw_tokens,
       CAST(sum(CASE WHEN t.doc_id = r.rep_id THEN t.n_tokens ELSE 0 END)
            AS BIGINT) AS unique_tokens,
       sum(t.n_tokens) * 1.0
         / nullif(sum(CASE WHEN t.doc_id = r.rep_id THEN t.n_tokens ELSE 0 END), 0)
         AS token_inflation
FROM t JOIN reps r USING (h)
GROUP BY t.source
"""


@register(
    "q_dedup_inflation_factor",
    oracle=_INFLATION_ORACLE,
    tags=("dedup", "tokens", "diagnostics"),
)
def q_dedup_inflation_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate token inflation per source: raw token count vs
    tokens in one representative (min doc_id) per distinct text — the
    "effective dataset size" number that decides whether a source's
    contribution to a token budget is real or copies (a source at
    inflation 3× contributes a third of what its raw count claims).
    Shuffle carries md5 + token count per doc (40 B/doc); note the
    group-by key is the 16-byte hash, never the text.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.selectExpr(
        "doc_id",
        "source",
        "md5(text) AS h",
        r"CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tokens",
    )
    reps = t.groupBy("h").agg(F.min("doc_id").alias("rep_id"))
    j = t.join(reps, "h")
    uniq_tokens = F.sum(
        F.when(F.col("doc_id") == F.col("rep_id"), F.col("n_tokens")).otherwise(
            F.lit(0)
        )
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_unique_texts"),
        F.sum("n_tokens").cast("long").alias("raw_tokens"),
        uniq_tokens.cast("long").alias("unique_tokens"),
        # nullif: a degenerate source can zero the denominator — ANSI
        # Spark raises on /0 while DuckDB NULLs, so NULL explicitly on
        # both engines (round-6 review catch)
        (F.sum("n_tokens") * 1.0 / F.nullif(uniq_tokens, F.lit(0))).alias(
            "token_inflation"
        ),
    )


# --------------------------------------------------------------------------
# 12. log-log price elasticity per brand (closed-form OLS)
# --------------------------------------------------------------------------

# nullif on the variance term: a brand whose kept lines all share one
# exact unit price has n*sxx - sx*sx == 0.0 EXACTLY (n > 1 does not
# exclude it) — ANSI Spark raises on /0 while DuckDB NULLs, so both
# engines emit a NULL slope for the no-price-variation brand instead
# of crash-vs-row divergence (round-6 review catch)
_ELASTICITY_SLOPE = (
    "(n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)"
)

_ELASTICITY_ORACLE = f"""
WITH obs AS (
    SELECT p.p_brand,
           ln(l.l_extendedprice / l.l_quantity) AS x,
           ln(l.l_quantity) AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
),
m AS (
    SELECT p_brand,
           CAST(count(*) AS DOUBLE) AS n,
           {_DSUM_SQL.format(x="x")} AS sx,
           {_DSUM_SQL.format(x="y")} AS sy,
           {_DSUM_SQL.format(x="x * x")} AS sxx,
           {_DSUM_SQL.format(x="x * y")} AS sxy
    FROM obs GROUP BY p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_lines,
       {_ELASTICITY_SLOPE} AS elasticity,
       (sy - {_ELASTICITY_SLOPE} * sx) / n AS log_intercept
FROM m WHERE n > 1
"""


@register(
    "q_price_elasticity_by_brand",
    oracle=_ELASTICITY_ORACLE,
    tags=("econometrics", "regression", "elasticity"),
)
def q_price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: OLS slope of ln(quantity)
    on ln(unit price) over order lines — THE pricing-analytics number
    (elasticity < -1 ⇒ revenue rises when price drops). Closed-form
    moment solution: one partial-aggregated pass to five moments per
    brand (det_sum folds for replay), slope/intercept as ONE shared
    expression text. The broadcast dim join (part → brand) is the
    standard fact-enrichment shape; nothing after the moment pass
    scales with data.
    """
    line = load_table(spark, sf_dir, "lineitem").filter(
        "l_quantity > 0 AND l_extendedprice > 0"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    obs = line.join(
        F.broadcast(part), line["l_partkey"] == part["p_partkey"]
    ).selectExpr(
        "p_brand",
        "ln(l_extendedprice / l_quantity) AS x",
        "ln(l_quantity) AS y",
    )
    m = obs.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        det_sum("x").alias("sx"),
        det_sum("y").alias("sy"),
        det_sum("x * x").alias("sxx"),
        det_sum("x * y").alias("sxy"),
    )
    return m.filter("n > 1").selectExpr(
        "p_brand",
        "CAST(n AS BIGINT) AS n_lines",
        f"{_ELASTICITY_SLOPE} AS elasticity",
        f"(sy - {_ELASTICITY_SLOPE} * sx) / n AS log_intercept",
    )


# --------------------------------------------------------------------------
# 13. IQR outlier fences per market segment
# --------------------------------------------------------------------------

_IQR_ORACLE = """
WITH r AS (
    SELECT c.c_mktsegment, o.o_totalprice AS v,
           row_number() OVER (
               PARTITION BY c.c_mktsegment ORDER BY o.o_totalprice, o.o_orderkey
           ) AS rn,
           count(*) OVER (PARTITION BY c.c_mktsegment) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
q AS (
    SELECT c_mktsegment,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
                    THEN v END) AS q1,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
                    THEN v END) AS q3
    FROM r GROUP BY c_mktsegment
)
SELECT r.c_mktsegment,
       CAST(max(r.n) AS BIGINT) AS n_orders,
       max(q.q1) AS q1, max(q.q3) AS q3,
       max(q.q1) - 1.5 * (max(q.q3) - max(q.q1)) AS lo_fence,
       max(q.q3) + 1.5 * (max(q.q3) - max(q.q1)) AS hi_fence,
       CAST(sum(CASE WHEN r.v < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR r.v > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM r JOIN q USING (c_mktsegment)
GROUP BY r.c_mktsegment
"""


@register(
    "q_iqr_outlier_fences",
    oracle=_IQR_ORACLE,
    tags=("robust-stats", "outliers", "iqr"),
)
def q_iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per market segment: exact rank-based
    Q1/Q3 (ceil(q·n) order statistic, orderkey tiebreak — both
    engines pick the identical row), fences at 1.5·IQR, and the
    outlier count — the boxplot-whisker rule as a distributed
    aggregate, complementing the MAD robust-outlier scan
    (q_mad_robust_outlier_days) with the segment-grain version.
    Scale: one per-segment window sort + one grouped pass; fences are
    scalars per segment.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    r = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .selectExpr(
            "c_mktsegment",
            "o_totalprice AS v",
            "row_number() OVER (PARTITION BY c_mktsegment "
            "ORDER BY o_totalprice, o_orderkey) AS rn",
            "count(*) OVER (PARTITION BY c_mktsegment) AS n",
        )
    )
    q = r.groupBy("c_mktsegment").agg(
        F.expr(
            "max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))"
            " THEN v END)"
        ).alias("q1"),
        F.expr(
            "max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))"
            " THEN v END)"
        ).alias("q3"),
    )
    return (
        r.join(q, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.expr("CAST(max(n) AS BIGINT)").alias("n_orders"),
            F.max("q1").alias("q1"),
            F.max("q3").alias("q3"),
            F.expr("max(q1) - 1.5 * (max(q3) - max(q1))").alias("lo_fence"),
            F.expr("max(q3) + 1.5 * (max(q3) - max(q1))").alias("hi_fence"),
            F.expr(
                "CAST(sum(CASE WHEN v < q1 - 1.5 * (q3 - q1)"
                " OR v > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_outliers"),
        )
    )


# ==========================================================================
# round-5 batch 2 (registered after the 13 above; driver-verified round 6)
# ==========================================================================

# --------------------------------------------------------------------------
# 14. Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
),
c AS (
    SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
tot AS (
    SELECT event_type, sum(n) AS row_n FROM c GROUP BY event_type
)
SELECT c.event_type, c.next_type, c.n,
       c.n * 1.0 / t.row_n AS p_transition
FROM c JOIN tot t USING (event_type)
"""


@register(
    "q_markov_event_transitions",
    oracle=_MARKOV_ORACLE,
    tags=("sequence", "markov", "behavior"),
)
def q_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), from lead() pairs ordered
    by (ts, event_id). The behavioral fingerprint behind next-action
    prediction and funnel-anomaly detection (a sudden drop in
    view→purchase probability is a checkout regression). Scale: one
    window shuffle on user_id, then a |types|²-bounded aggregate;
    probabilities are single divisions of exact BIGINTs — bit-identical
    cross-engine.
    """
    events = load_table(spark, sf_dir, "events")
    seq = events.selectExpr(
        "user_id",
        "event_type",
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        " AS next_type",
    )
    c = (
        seq.filter("next_type IS NOT NULL")
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.groupBy("event_type").agg(F.sum("n").alias("row_n"))
    return c.join(tot, "event_type").select(
        "event_type",
        "next_type",
        "n",
        (F.col("n") * 1.0 / F.col("row_n")).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# 16. tokenizer fertility by language (BPE-ish regex vs whitespace)
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
# 17. effective number of sources (inverse Simpson over token shares)
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
# 18. rolling z-score anomaly days on daily revenue
# --------------------------------------------------------------------------

ROLL_WIN = 28  # trailing window (days), current day EXCLUDED
Z_CUT = "3.0"

_ROLLZ_ORACLE = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           {_DSUM_SQL.format(x="o_totalprice")} AS rev
    FROM orders GROUP BY 1
),
wl AS (
    SELECT day, rev,
           count(*) OVER trail AS n_win,
           list(rev) OVER trail AS l1,
           list(rev * rev) OVER trail AS l2
    FROM daily
    WINDOW trail AS (ORDER BY day ROWS BETWEEN {ROLL_WIN} PRECEDING
                     AND 1 PRECEDING)
),
w AS (
    SELECT day, rev, n_win,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(l1)),
                       (a, b) -> a + b) AS s,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(l2)),
                       (a, b) -> a + b) AS ssq
    FROM wl
)
SELECT day, rev, z_score
FROM (
    SELECT day, rev,
           CASE WHEN n_win >= {ROLL_WIN} THEN
               (rev - s / n_win)
                 / sqrt(greatest(ssq / n_win - (s / n_win) * (s / n_win),
                                 CAST(1e-12 AS DOUBLE)))
           END AS z_score
    FROM w
)
WHERE z_score IS NOT NULL AND abs(z_score) >= CAST({Z_CUT} AS DOUBLE)
ORDER BY day
"""


@register(
    "q_rolling_zscore_anomaly_days",
    oracle=_ROLLZ_ORACLE,
    tags=("anomaly", "rolling", "time-series"),
)
def q_rolling_zscore_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomalies: days whose revenue sits
    ≥{Z_CUT}σ from the mean of the PRIOR {ROLL_WIN} days (current day
    excluded, so an anomaly can't suppress its own alarm — the
    leave-current-out discipline the seasonal detector
    q_seasonal_adjusted_anomalies applies by residual). Windowed
    det_sum folds keep the rolling moments bit-replayable; variance
    floored at 1e-12 so a flat window can't divide by zero. One daily
    pre-aggregate, one ordered window over |days| rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("day")
    ).agg(det_sum("o_totalprice").alias("rev"))
    trail = (
        f"OVER (ORDER BY day ROWS BETWEEN {ROLL_WIN} PRECEDING"
        " AND 1 PRECEDING)"
    )
    dsum_rev = (
        "aggregate(array_sort(collect_list(rev) {w}), CAST(0.0 AS DOUBLE),"
        " (a, x) -> a + x)"
    )
    dsum_rev2 = (
        "aggregate(array_sort(collect_list(rev * rev) {w}),"
        " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )
    w = daily.selectExpr(
        "day",
        "rev",
        f"count(*) {trail} AS n_win",
        f"{dsum_rev.format(w=trail)} AS s",
        f"{dsum_rev2.format(w=trail)} AS ssq",
    )
    # the CASE guard keeps the division out of empty leading frames
    # (n_win = 0): ANSI Spark raises DIVIDE_BY_ZERO even when a later
    # filter would discard the row — predicate order is not guaranteed
    z = (
        f"CASE WHEN n_win >= {ROLL_WIN} THEN"
        " (rev - s / n_win) / sqrt(greatest(ssq / n_win"
        " - (s / n_win) * (s / n_win), CAST(1e-12 AS DOUBLE))) END"
    )
    return (
        w.selectExpr("day", "rev", f"{z} AS z_score")
        .filter(
            f"z_score IS NOT NULL AND abs(z_score) >= CAST({Z_CUT} AS DOUBLE)"
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# 18. connected components by alternating large-star / small-star
# --------------------------------------------------------------------------


@register(
    "q_dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "clustering", "iterative", "graph"),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star connected components (star_components)
    over the near-dup pair graph: doc_id → min doc_id of its component,
    singletons included. Same computation and recursive-CTE oracle as
    q_dedup_clusters, registered under the graph tag as well."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    return star_components(docs, pairs)


# --------------------------------------------------------------------------
# 19. bigram-LM perplexity scoring (CCNet-style LM quality filter)
# --------------------------------------------------------------------------

LM_BUCKETS = 1024  # hashed vocab (collisions merge identically cross-engine)
LM_TOPK = 25

#: ln P(w2|w1) with add-one smoothing over the hashed vocab — ONE text.
_LM_LOGP = "ln((c2 + 1.0) / (c1 + CAST({B} AS DOUBLE)))".format(B=LM_BUCKETS)

# Shared CTE chain: per-doc bigram-LM score (reused by round6's
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
    q_bigram_lm_perplexity and round6's filter-retention curve. One
    model, one Spark shape, one oracle CTE text (_LM_SCORED_CTES)."""
    from pyspark import StorageLevel

    # Scan re-key tried and REJECTED (round 10): det_sum folds make it
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
        # (the minhash_pair_plan multi-consumer discipline; round-6
        # review catch)
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
# 20. join-key profile (the pre-join diagnostics a join doctor runs)
# --------------------------------------------------------------------------

_JOINPROF_ORACLE = """
WITH l AS (
    SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1
),
r AS (
    SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1
),
j AS (
    SELECT coalesce(l.k, r.k) AS k, l.n AS ln, r.n AS rn
    FROM l FULL OUTER JOIN r ON l.k = r.k
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN rn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_left_orphans,
       CAST(sum(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_right_orphans,
       CAST(sum(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
                     THEN ln * rn ELSE 0 END) AS BIGINT)
         AS join_output_rows,
       CAST(max(coalesce(ln, 0)) AS BIGINT) AS max_left_key_freq,
       CAST(max(coalesce(rn, 0)) AS BIGINT) AS max_right_key_freq
FROM j
"""


@register(
    "q_join_key_profile",
    oracle=_JOINPROF_ORACLE,
    tags=("join", "diagnostics", "profiling"),
)
def q_join_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join key diagnostics for orders ⋈ customer — the numbers to
    read BEFORE launching a big join: exact output cardinality
    (Σ ln·rn over matched keys — the estimate Catalyst only
    approximates from stats), referential orphans on both sides (FK
    violations / silent row loss under inner join), and the max key
    frequency per side (the skew number that decides salting). Two
    per-side key aggregates + a full outer join of the KEY tables
    (|keys| rows, not |rows|) — the profile costs a fraction of the
    join it de-risks at any scale. Exact BIGINT arithmetic throughout.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    l = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("ln")
    )
    r = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("rn")
    )
    j = l.join(r, "k", "full_outer")
    both = F.col("ln").isNotNull() & F.col("rn").isNotNull()
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(both.cast("int")).cast("long").alias("n_matched"),
        F.sum(F.col("rn").isNull().cast("int"))
        .cast("long")
        .alias("n_left_orphans"),
        F.sum(F.col("ln").isNull().cast("int"))
        .cast("long")
        .alias("n_right_orphans"),
        F.sum(F.when(both, F.col("ln") * F.col("rn")).otherwise(F.lit(0)))
        .cast("long")
        .alias("join_output_rows"),
        F.max(F.coalesce("ln", F.lit(0))).cast("long").alias(
            "max_left_key_freq"
        ),
        F.max(F.coalesce("rn", F.lit(0))).cast("long").alias(
            "max_right_key_freq"
        ),
    )


# --------------------------------------------------------------------------
# 21. data-contract violation audit
# --------------------------------------------------------------------------

_CONTRACT_ORACLE = """
WITH checks AS (
    SELECT
        CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END AS null_key,
        CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
             THEN 1 ELSE 0 END AS bad_price,
        CASE WHEN o_orderdate IS NULL
               OR o_orderdate < CAST('1990-01-01' AS TIMESTAMP)
               OR o_orderdate >= CAST('2030-01-01' AS TIMESTAMP)
             THEN 1 ELSE 0 END AS bad_date,
        CASE WHEN o_orderstatus IS NULL
               OR o_orderstatus NOT IN ('O', 'F', 'P')
             THEN 1 ELSE 0 END AS bad_status,
        CASE WHEN o_orderpriority IS NULL OR trim(o_orderpriority) = ''
             THEN 1 ELSE 0 END AS bad_priority
    FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(null_key) AS BIGINT) AS null_key,
       CAST(sum(bad_price) AS BIGINT) AS bad_price,
       CAST(sum(bad_date) AS BIGINT) AS bad_date,
       CAST(sum(bad_status) AS BIGINT) AS bad_status,
       CAST(sum(bad_priority) AS BIGINT) AS bad_priority,
       CAST(sum(CASE WHEN null_key + bad_price + bad_date + bad_status
                          + bad_priority > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS rows_in_violation
FROM checks
"""


@register(
    "q_data_contract_violations",
    oracle=_CONTRACT_ORACLE,
    tags=("data-quality", "contract", "audit"),
)
def q_data_contract_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit over orders: per-rule violation counts
    (null key, non-positive money, out-of-range date, enum domain,
    blank required string) plus the distinct-row violation total —
    the single-scan gate an ingest pipeline runs before publishing a
    batch (the systematic version of the reference pipeline's implicit
    trust in its inputs). All rules evaluate in one projection; one
    map-side-combined aggregate; exact BIGINTs. On violation the
    companion move is `read_lake_csv_audited`'s quarantine split —
    this query is the REPORT, that reader is the enforcement.
    """
    orders = load_table(spark, sf_dir, "orders")
    checks = orders.selectExpr(
        "CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END AS null_key",
        "CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0"
        " THEN 1 ELSE 0 END AS bad_price",
        "CASE WHEN o_orderdate IS NULL"
        " OR o_orderdate < CAST('1990-01-01' AS TIMESTAMP)"
        " OR o_orderdate >= CAST('2030-01-01' AS TIMESTAMP)"
        " THEN 1 ELSE 0 END AS bad_date",
        # IS NULL spelled out: NULL NOT IN (...) is NULL, which the
        # CASE would silently treat as compliant (review catch)
        "CASE WHEN o_orderstatus IS NULL"
        " OR o_orderstatus NOT IN ('O', 'F', 'P')"
        " THEN 1 ELSE 0 END AS bad_status",
        "CASE WHEN o_orderpriority IS NULL OR trim(o_orderpriority) = ''"
        " THEN 1 ELSE 0 END AS bad_priority",
    )
    viol = (
        F.col("null_key")
        + F.col("bad_price")
        + F.col("bad_date")
        + F.col("bad_status")
        + F.col("bad_priority")
    )
    return checks.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("null_key").cast("long").alias("null_key"),
        F.sum("bad_price").cast("long").alias("bad_price"),
        F.sum("bad_date").cast("long").alias("bad_date"),
        F.sum("bad_status").cast("long").alias("bad_status"),
        F.sum("bad_priority").cast("long").alias("bad_priority"),
        F.sum((viol > 0).cast("int")).cast("long").alias("rows_in_violation"),
    )


# --------------------------------------------------------------------------
# 22. point-in-time feature assembly (leakage-free training sets)
# --------------------------------------------------------------------------

_PIT_ORACLE = """
WITH ev AS (
    SELECT user_id AS uid, ts, 1 AS kind,
           CAST(NULL AS BIGINT) AS o_orderkey,
           CAST(NULL AS DOUBLE) AS o_totalprice,
           1 AS ev_n,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ev_purchase,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS ev_error,
           ts AS ev_ts
    FROM events
),
probes AS (
    SELECT o_custkey AS uid, o_orderdate AS ts, 0 AS kind,
           o_orderkey, o_totalprice,
           0 AS ev_n, 0 AS ev_purchase, 0 AS ev_error,
           CAST(NULL AS TIMESTAMP) AS ev_ts
    FROM orders
),
u AS (SELECT * FROM ev UNION ALL SELECT * FROM probes),
w AS (
    SELECT *,
           sum(ev_n) OVER pit AS n_events_before,
           sum(ev_purchase) OVER pit AS n_purchases_before,
           sum(ev_error) OVER pit AS n_errors_before,
           max(ev_ts) OVER pit AS last_event_ts
    FROM u
    WINDOW pit AS (PARTITION BY uid ORDER BY ts, kind
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(o_orderkey AS BIGINT)           AS o_orderkey,
       CAST(uid AS BIGINT)                  AS o_custkey,
       ts                                   AS o_orderdate,
       CAST(n_events_before AS BIGINT)      AS n_events_before,
       CAST(n_purchases_before AS BIGINT)   AS n_purchases_before,
       CAST(n_errors_before AS BIGINT)      AS n_errors_before,
       epoch_us(ts) - epoch_us(last_event_ts) AS micros_since_last_event,
       o_totalprice                         AS label_order_value
FROM w WHERE kind = 0
"""


def pit_feature_assembly(events: DataFrame, probes: DataFrame) -> DataFrame:
    """Point-in-time (as-of) feature assembly over (events, probes).

    For every probe row (entity, probe_ts) attach running aggregates of
    the entity's event history STRICTLY BEFORE the probe timestamp —
    the feature-store correctness rule that kills label leakage:
    a feature computed from anything at-or-after the label's timestamp
    trains a model on its own answer. ``events`` needs
    (user_id, ts, event_type); ``probes`` needs
    (uid, ts, o_orderkey, o_totalprice).

    Mechanics — the union-window trick (same spine as the as-of join
    q_asof_join_purchase_view, but returning RUNNING AGGREGATES rather
    than the last value): both tables union into one stream with a
    kind marker, one window per entity ordered by (ts, kind) with
    probes (kind=0) sorting BEFORE events (kind=1) on timestamp ties,
    so a probe's rows-frame can only contain events with ts strictly
    smaller — at-tick events are excluded by construction, not by a
    fragile ``<`` filter on a separate join. Probes contribute zero to
    every aggregate, making their relative order on ties irrelevant:
    the result is deterministic without a tiebreak column.

    Scale: ONE shuffle (the window on entity id) regardless of how
    many features ride the frame; the naive alternative — a per-probe
    range join events.ts < probe.ts — is |events|×|probes| per entity.
    Skewed power users are bounded by the per-user history length, the
    same envelope every sessionization query here already accepts.
    """
    ev = events.select(
        F.col("user_id").alias("uid"),
        F.col("ts"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(1).alias("ev_n"),
        (F.col("event_type") == "purchase").cast("int").alias("ev_purchase"),
        (F.col("event_type") == "error").cast("int").alias("ev_error"),
        F.col("ts").alias("ev_ts"),
    )
    pr = probes.select(
        F.col("uid"),
        F.col("ts"),
        F.lit(0).alias("kind"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.lit(0).alias("ev_n"),
        F.lit(0).alias("ev_purchase"),
        F.lit(0).alias("ev_error"),
        F.lit(None).cast("timestamp").alias("ev_ts"),
    )
    from pyspark.sql import Window

    pit = (
        Window.partitionBy("uid")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = ev.unionByName(pr).select(
        "*",
        F.sum("ev_n").over(pit).alias("n_events_before"),
        F.sum("ev_purchase").over(pit).alias("n_purchases_before"),
        F.sum("ev_error").over(pit).alias("n_errors_before"),
        F.max("ev_ts").over(pit).alias("last_event_ts"),
    )
    return w.filter(F.col("kind") == 0).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("uid").cast("long").alias("o_custkey"),
        F.col("ts").alias("o_orderdate"),
        F.col("n_events_before").cast("long").alias("n_events_before"),
        F.col("n_purchases_before").cast("long").alias("n_purchases_before"),
        F.col("n_errors_before").cast("long").alias("n_errors_before"),
        (F.unix_micros("ts") - F.unix_micros("last_event_ts")).alias(
            "micros_since_last_event"
        ),
        F.col("o_totalprice").alias("label_order_value"),
    )


@register(
    "q_pit_feature_assembly",
    oracle=_PIT_ORACLE,
    tags=("feature-store", "leakage", "asof", "training-prep"),
)
def q_pit_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training-set assembly: every order becomes a
    labeled example (label = order value) carrying its customer's
    event-history features as of STRICTLY BEFORE the order timestamp
    (event/purchase/error counts, recency in exact micros). Customers
    without history get exact zeros and NULL recency — the cold-start
    row a downstream model must handle, not silently drop. See
    ``pit_feature_assembly`` for the one-shuffle union-window
    mechanics and the tie discipline.
    """
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    probes = orders.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
        "o_totalprice",
    )
    return pit_feature_assembly(events, probes)


# --------------------------------------------------------------------------
# 23. t-closeness audit (privacy triad: k-anon -> l-diversity -> t-close)
# --------------------------------------------------------------------------

T_CLOSE = 0.2  # max total-variation distance a releasable cell may show

_TCLOSE_ORACLE = f"""
WITH cells AS (
    SELECT o_orderpriority, extract(year FROM o_orderdate) AS order_year,
           o_orderstatus, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1, 2, 3
),
cell_tot AS (
    SELECT o_orderpriority, order_year,
           CAST(sum(cnt) AS BIGINT) AS n_rows
    FROM cells GROUP BY 1, 2
),
gstat AS (
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS gcnt,
           CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
    FROM orders GROUP BY 1
),
grid AS (
    SELECT t.o_orderpriority, t.order_year, t.n_rows,
           g.o_orderstatus, g.gcnt, g.n_total,
           coalesce(c.cnt, 0) AS cnt
    FROM cell_tot t CROSS JOIN gstat g
    LEFT JOIN cells c
      ON c.o_orderpriority = t.o_orderpriority
     AND c.order_year = t.order_year
     AND c.o_orderstatus = g.o_orderstatus
),
diffs AS (
    SELECT o_orderpriority, order_year, n_rows,
           abs(cnt * 1.0 / n_rows - gcnt * 1.0 / n_total) AS d
    FROM grid
)
SELECT o_orderpriority,
       CAST(order_year AS BIGINT) AS order_year,
       n_rows,
       0.5 * list_reduce(list_sort(list(d)), (a, b) -> a + b) AS tvd,
       0.5 * list_reduce(list_sort(list(d)), (a, b) -> a + b) <= {T_CLOSE}
         AS t_close
FROM diffs
GROUP BY o_orderpriority, order_year, n_rows
"""


@register(
    "q_t_closeness_audit",
    oracle=_TCLOSE_ORACLE,
    tags=("privacy", "t-closeness", "audit"),
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007), completing the release
    triad: k-anonymity bounds cell SIZE, l-diversity bounds sensitive
    VARIETY, t-closeness bounds sensitive DISTRIBUTION — a cell can
    hold all three status values and still leak if its mix is far from
    the corpus-wide mix (skewness attack: "90% of this cell's orders
    failed"). Per QI cell (priority × order year), total-variation
    distance between the cell's status distribution and the global one
    = 0.5·Σ|p_cell − p_global|, over a cells×statuses GRID join so
    absent statuses contribute their full global mass rather than
    silently dropping out.

    Determinism: every p is a single division of exact BIGINTs
    (IEEE-identical cross-engine); the ≤|statuses| addends fold in
    det_sum sorted order. Scale: one partial-aggregated shuffle on
    (QI, status); the grid is |cells|×|statuses| — release-schema
    bounded, never data bounded.
    """
    orders = load_table(spark, sf_dir, "orders")
    year = F.expr("CAST(extract(year FROM o_orderdate) AS BIGINT)").alias(
        "order_year"
    )
    cells = orders.groupBy("o_orderpriority", year, "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cell_tot = cells.groupBy("o_orderpriority", "order_year").agg(
        F.sum("cnt").alias("n_rows")
    )
    status_counts = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("gcnt")
    )
    glob = status_counts.crossJoin(
        F.broadcast(status_counts.agg(F.sum("gcnt").alias("n_total")))
    )
    grid = (
        cell_tot.crossJoin(F.broadcast(glob))
        .join(
            cells,
            ["o_orderpriority", "order_year", "o_orderstatus"],
            "left",
        )
        .select(
            "o_orderpriority",
            "order_year",
            "n_rows",
            (
                F.abs(
                    F.coalesce(F.col("cnt"), F.lit(0)) / F.col("n_rows")
                    - F.col("gcnt") / F.col("n_total")
                )
            ).alias("d"),
        )
    )
    tvd = (F.lit(0.5) * det_sum("d")).alias("tvd")
    return grid.groupBy("o_orderpriority", "order_year", "n_rows").agg(
        tvd,
        (F.lit(0.5) * det_sum("d") <= F.lit(T_CLOSE)).alias("t_close"),
    )


# --------------------------------------------------------------------------
# 24. dup-graph source modularity (global-vs-per-source dedup decision)
# --------------------------------------------------------------------------

_SRC_MOD_ORACLE = """
WITH pairs AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ({MINHASH}) p
),
lab AS (SELECT doc_id, source FROM documents),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
tagged AS (
    SELECT l1.source AS s1, l2.source AS s2
    FROM pairs p
    JOIN lab l1 ON p.doc_id_1 = l1.doc_id
    JOIN lab l2 ON p.doc_id_2 = l2.doc_id
),
ec AS (
    SELECT s1 AS source, CAST(count(*) AS BIGINT) AS e_c
    FROM tagged WHERE s1 = s2 GROUP BY 1
),
deg AS (
    SELECT id, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT doc_id_1 AS id FROM pairs
          UNION ALL SELECT doc_id_2 FROM pairs)
    GROUP BY 1
),
dc AS (
    SELECT l.source, CAST(sum(d.d) AS BIGINT) AS d_c
    FROM deg d JOIN lab l ON d.id = l.doc_id GROUP BY 1
),
terms AS (
    SELECT coalesce(e.e_c, 0) * 1.0 / m.m
           - (dc.d_c * 1.0 / (2 * m.m)) * (dc.d_c * 1.0 / (2 * m.m)) AS term,
           coalesce(e.e_c, 0) AS e_c
    FROM dc LEFT JOIN ec e USING (source) CROSS JOIN m
)
SELECT m.m AS n_edges,
       CAST(sum(t.e_c) AS BIGINT) AS n_intra_edges,
       1.0 - sum(t.e_c) * 1.0 / m.m AS cross_source_share,
       list_reduce(list_sort(list(t.term)), (a, b) -> a + b) AS modularity
FROM terms t CROSS JOIN m
GROUP BY m.m
"""


@register(
    "q_dupgraph_source_modularity",
    oracle=None,  # wired below: needs _MINHASH_ORACLE from operators.dedup
    tags=("graph", "modularity", "dedup", "mixture"),
)
def q_dupgraph_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-dup pair graph under the SOURCE
    partition — the global-vs-per-source dedup decision in one number.
    Q near its maximum (every family inside one source) means
    per-source dedup loses almost nothing and the pipeline can shard
    by source; Q ≈ 0 or negative (intra-source edge mass no better
    than the degree-weighted random expectation) means syndication/
    mirroring crosses sources and only GLOBAL dedup is sound. The
    companion exact ratio `cross_source_share` = fraction of near-dup
    pairs crossing sources reads the same decision without the
    null-model correction.

    Q = Σ_src [e_c/m − (d_c/2m)²] over exact BIGINT edge counts and
    degree sums; each term is two divisions and a multiply of exact
    ints (IEEE-identical cross-engine), folded in det_sum order.
    Unlike a modularity over the CC partition itself (where every
    edge is intra by construction and Q degenerates to 1 − Σ(d_c/2m)²),
    the source partition is independent of the edges, so both terms
    carry information. Scale: joins/aggregates on ids and source keys
    only; the pair plan runs once (localCheckpoint), |sources|-bounded
    state thereafter.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = (
        minhash_pair_plan(spark, sf_dir)
        .select("doc_id_1", "doc_id_2")
        .transform(eager_checkpoint)
    )
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    tagged = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_id_1"), F.col("source").alias("s1")
            ),
            "doc_id_1",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_id_2"), F.col("source").alias("s2")
            ),
            "doc_id_2",
        )
    )
    ec = (
        tagged.filter(F.col("s1") == F.col("s2"))
        .groupBy(F.col("s1").alias("source"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = (
        pairs.select(F.col("doc_id_1").alias("id"))
        .unionAll(pairs.select(F.col("doc_id_2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        deg.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(F.sum("d").alias("d_c"))
    )
    terms = (
        dc.join(ec, "source", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
            (
                F.coalesce(F.col("e_c"), F.lit(0)) / F.col("m")
                - (F.col("d_c") / (2 * F.col("m")))
                * (F.col("d_c") / (2 * F.col("m")))
            ).alias("term"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(m))
        .groupBy("m")
        .agg(
            F.sum("e_c").alias("n_intra_edges"),
            (F.lit(1.0) - F.sum("e_c") / F.col("m")).alias(
                "cross_source_share"
            ),
            det_sum("term").alias("modularity"),
        )
        .select(
            F.col("m").alias("n_edges"),
            F.col("n_intra_edges").cast("long"),
            "cross_source_share",
            "modularity",
        )
    )


def _wire_src_mod_oracle() -> None:
    import dataclasses

    from cost_of_living_data_etl_spark.operators.dedup import _MINHASH_ORACLE
    from cost_of_living_data_etl_spark.plans.catalog import _REGISTRY

    _REGISTRY["q_dupgraph_source_modularity"] = dataclasses.replace(
        _REGISTRY["q_dupgraph_source_modularity"],
        oracle=_SRC_MOD_ORACLE.format(MINHASH=_MINHASH_ORACLE),
    )


_wire_src_mod_oracle()
