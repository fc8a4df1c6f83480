"""Feature-preparation and monitoring operators for training-data
pipelines: retrieval ranking (BM25 + hybrid RRF fusion),
distribution-drift monitoring (PSI), leakage-safe target encoding,
time-series resampling (weekly OHLC), and column data profiling.

These extend the reference's snapshot ETL (reference app.py:106-199)
with the ML-adjacent relational work a 100 TB corpus pipeline runs
daily: score documents against a query for retrieval-based curation
(lexically, and fused with the dense ranking), watch a metric's
distribution drift month over month, turn a categorical column into a
numeric feature without target leakage, downsample an event/price
series to a fixed calendar grain, and profile every column's shape
before trusting a new partition.

Cross-engine float determinism (driver hash gate): every fractional
aggregate here either (a) derives from exact integer counts with an
identical IEEE expression on both engines, or (b) folds a sorted
collect_list from 0.0 — the repo's established deterministic-sum
trick (see plans/reshape.py::q_embedding_dim_stats). The sorted-fold
form is the oracle-replay variant; at 100 TB you'd run the plain
partial-agg sum (map-side combine, one shuffle row per group per
mapper) and accept last-ulp drift.

Training-data preparation sits here as well: contrastive negative
sampling, context-window utilization, the length-curriculum phase
manifest, stratified hash sampling, point-in-time feature assembly
(`pit_feature_assembly`, whose streaming twin lives in
streaming/events.py), MMR-diversified retrieval, and two input audits
(join-key profile, data-contract violations).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.checkpoints import eager_checkpoint
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.operators.similarity import cosine_expr, with_norm
from cost_of_living_data_etl_spark.operators.textstats import (
    _WORDS_LOWER_SQL,
    lower_word_array,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table


# --- BM25 document ranking --------------------------------------------------

BM25_TERMS = ("spark", "join", "window")  # fixture-vocabulary query
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 15

# Per-doc BM25 score CTE chain, shared by the ranking query and the
# hybrid-RRF fusion query (oracle side).
_BM25_PERDOC_CTES = f"""d AS (
    SELECT doc_id, {_WORDS_LOWER_SQL} AS ws
    FROM documents
),
corpus AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(ws)) AS DOUBLE) / count(*) AS avgdl
    FROM d
),
tf AS (
    SELECT doc_id, CAST(length(ws) AS BIGINT) AS dl, word,
           CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, ws, unnest(ws) AS word FROM d)
    WHERE word IN ('{BM25_TERMS[0]}', '{BM25_TERMS[1]}', '{BM25_TERMS[2]}')
    GROUP BY doc_id, length(ws), word
),
df AS (
    SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
),
scored AS (
    SELECT tf.doc_id, tf.word,
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * ((tf * {BM25_K1 + 1.0}) / (tf + {BM25_K1} * ({1.0 - BM25_B}
                + {BM25_B} * (dl / avgdl)))) AS s
    FROM tf JOIN df USING (word) CROSS JOIN corpus
),
per_doc AS (
    SELECT doc_id,
           coalesce(max(CASE WHEN word = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN word = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN word = '{BM25_TERMS[2]}' THEN s END), 0.0)
             AS bm25
    FROM scored GROUP BY doc_id
)"""

_BM25_ORACLE = f"""
WITH {_BM25_PERDOC_CTES}
SELECT doc_id, bm25 FROM per_doc
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score (doc_id, bm25) for the fixed query —
    shared by q_bm25_doc_ranking and q_hybrid_rrf_retrieval."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", lower_word_array(F.col("text")).alias("ws"))
    corpus = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum(F.size("ws")).cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.size("ws").cast("long").alias("dl"),
                 F.explode("ws").alias("word"))
        .filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "word",
            (idf * ((F.col("tf") * F.lit(BM25_K1 + 1.0)) / norm)).alias("s"),
        )
    )
    term_score = [
        F.coalesce(
            F.max(F.when(F.col("word") == t, F.col("s"))), F.lit(0.0)
        )
        for t in BM25_TERMS
    ]
    return scored.groupBy("doc_id").agg(
        (term_score[0] + term_score[1] + term_score[2]).alias("bm25")
    )


@register(
    "q_bm25_doc_ranking",
    oracle=_BM25_ORACLE,
    tags=("text", "bm25", "retrieval", "training-data"),
)
def q_bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by BM25 score for a fixed 3-term query — the
    retrieval-quality ranking behind query-based corpus curation
    (choose training documents relevant to a target domain) and the
    lexical half of hybrid (BM25 + embedding) search. TF-IDF
    (q_tfidf_top_terms) ranks TERMS per slice; BM25 ranks DOCUMENTS
    per query, with term-frequency saturation (k1) and length
    normalization (b) that plain TF-IDF lacks.

    Scale shape: doc length rides the GROUP BY key (functionally
    dependent on doc_id), so tf needs no join back to a lengths
    table. The shuffle after the query-term filter carries only docs
    containing a query term — at 100 TB with a selective query that
    is a tiny fraction of the corpus, and the filter applies
    pre-aggregation in the scan stage. Corpus stats (2 scalars) and
    per-term df (|terms| rows) broadcast onto the scored rows; the
    final top-k is TakeOrderedAndProject (k rows per partition, no
    global sort). Honest plan audit: ad hoc, the tokenize projection
    executes THREE times (tf branch, the df branch's re-expanded
    lineage, and the corpus-stats scan — Catalyst does not reuse
    uncached subtrees); at 100 TB you'd cache the tokenized
    projection or, better, keep (N, avgdl, df) as maintained corpus
    statistics so queries cost ONE tf pass. The per-doc score pivots
    ≤1 row per (doc, term) and adds the three term scores in fixed
    written order — bit-identical to the oracle.
    """
    return (
        _bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# --- PSI distribution drift -------------------------------------------------

PSI_BUCKETS = 20
PSI_BUCKET_WIDTH = 25_000.0  # o_totalprice spans ~[1.3k, 500k]
PSI_BASE_YEAR = 1995

_PSI_ORACLE = f"""
WITH b AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(least(floor(o_totalprice / {PSI_BUCKET_WIDTH}),
                      {PSI_BUCKETS - 1}) AS INT) AS bucket
    FROM orders
),
cur AS (
    SELECT month, bucket, CAST(count(*) AS BIGINT) AS n_cur
    FROM b GROUP BY month, bucket
),
base AS (
    SELECT bucket, CAST(sum(n_cur) AS BIGINT) AS n_base
    FROM cur WHERE year(month) = {PSI_BASE_YEAR} GROUP BY bucket
),
base_tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS tot_base FROM base),
cur_tot AS (
    SELECT month, CAST(sum(n_cur) AS BIGINT) AS tot_cur FROM cur GROUP BY month
),
grid AS (
    SELECT month, CAST(r.range AS INT) AS bucket
    FROM (SELECT DISTINCT month FROM cur) m, range({PSI_BUCKETS}) r
),
terms AS (
    SELECT g.month,
           ((coalesce(c.n_cur, 0) + 1.0) / (t.tot_cur + {PSI_BUCKETS}.0)
            - (coalesce(ba.n_base, 0) + 1.0) / (bt.tot_base + {PSI_BUCKETS}.0))
           * ln(((coalesce(c.n_cur, 0) + 1.0) / (t.tot_cur + {PSI_BUCKETS}.0))
                / ((coalesce(ba.n_base, 0) + 1.0)
                   / (bt.tot_base + {PSI_BUCKETS}.0))) AS term
    FROM grid g
    LEFT JOIN cur c USING (month, bucket)
    LEFT JOIN base ba USING (bucket)
    JOIN cur_tot t USING (month)
    CROSS JOIN base_tot bt
)
SELECT month,
       list_reduce(list_sort(list(term)), (a, x) -> a + x) AS psi
FROM terms GROUP BY month
"""


@register(
    "q_psi_price_drift_by_month",
    oracle=_PSI_ORACLE,
    tags=("drift", "monitoring", "quality", "training-data"),
)
def q_psi_price_drift_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    per month vs the {PSI_BASE_YEAR} baseline — the standard drift
    monitor a data pipeline runs on every refresh (feature drift,
    source-mix shift, upstream schema accidents show up here first).
    PSI = Σ_buckets (p_cur − p_base)·ln(p_cur/p_base) over fixed-width
    value buckets with Laplace smoothing (so empty buckets are
    defined); > 0.25 conventionally flags a shift worth blocking on.

    Scale shape: bucketization is arithmetic on the scanned column
    (no UDF); counts partial-aggregate map-side on (month, bucket) —
    the shuffle is bounded by |months|×|buckets| regardless of row
    count, and EVERYTHING downstream (baseline, month grid, totals,
    the PSI fold) derives from that first `cur` aggregate, so no
    later stage touches raw rows. Measured plan note: AQE collapses
    the identical cur-exchange branches via ReusedExchange; branches
    whose column pruning alters the subtree still rescan ad hoc — a
    production run caches cur (≤ |months|×20 rows) and pays exactly
    one scan. The dense month×bucket grid explodes a 20-element
    literal sequence against the distinct months (tiny), and the
    baseline histogram (≤20 rows) broadcasts.
    The 20-term PSI sum folds in sorted order on both engines —
    bit-identical; at 100 TB the same plan holds because everything
    after the first aggregate operates on |months|×20 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(PSI_BUCKET_WIDTH)),
            F.lit(PSI_BUCKETS - 1),
        ).cast("int").alias("bucket"),
    )
    cur = b.groupBy("month", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_cur")
    )
    base = (
        cur.filter(F.year("month") == PSI_BASE_YEAR)
        .groupBy("bucket")
        .agg(F.sum("n_cur").cast("long").alias("n_base"))
    )
    base_tot = base.agg(F.sum("n_base").cast("long").alias("tot_base"))
    cur_tot = cur.groupBy("month").agg(
        F.sum("n_cur").cast("long").alias("tot_cur")
    )
    grid = (
        cur.select("month").distinct()
        .select(
            "month",
            F.explode(F.sequence(F.lit(0), F.lit(PSI_BUCKETS - 1))).alias("bucket0"),
        )
        .select("month", F.col("bucket0").cast("int").alias("bucket"))
    )
    smooth = F.lit(float(PSI_BUCKETS))
    p_cur = (F.coalesce(F.col("n_cur"), F.lit(0)) + F.lit(1.0)) / (
        F.col("tot_cur") + smooth
    )
    p_base = (F.coalesce(F.col("n_base"), F.lit(0)) + F.lit(1.0)) / (
        F.col("tot_base") + smooth
    )
    terms = (
        grid.join(cur, ["month", "bucket"], "left")
        .join(F.broadcast(base), ["bucket"], "left")
        .join(cur_tot, ["month"])
        .crossJoin(F.broadcast(base_tot))
        .select("month", ((p_cur - p_base) * F.log(p_cur / p_base)).alias("term"))
    )
    return terms.groupBy("month").agg(det_sum("term").alias("psi"))


# --- leakage-safe target encoding -------------------------------------------

TE_MONTH = "1995-03"
TE_SMOOTH = 10.0


def _te_bounds() -> tuple[str, str]:
    """[start, end) timestamps of TE_MONTH — derived in ONE place so
    changing TE_MONTH can never leave a stale end bound."""
    import datetime as _dt

    start = _dt.date.fromisoformat(f"{TE_MONTH}-01")
    end = (start.replace(day=28) + _dt.timedelta(days=4)).replace(day=1)
    return start.isoformat(), end.isoformat()


TE_START, TE_END = _te_bounds()

_TE_ORACLE = f"""
WITH rows_in AS (
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{TE_START}'
      AND o_orderdate < TIMESTAMP '{TE_END}'
),
cat AS (
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_c,
           list_reduce(list_sort(list(o_totalprice)), (a, x) -> a + x) AS s_c
    FROM rows_in GROUP BY o_orderpriority
),
g_all AS (
    SELECT CAST(count(*) AS BIGINT) AS n_all,
           list_reduce(list_sort(list(o_totalprice)), (a, x) -> a + x) AS s_all
    FROM rows_in
)
SELECT r.o_orderkey, r.o_orderpriority, r.o_totalprice,
       CASE WHEN c.n_c > 1
            THEN (c.s_c - r.o_totalprice) / (c.n_c - 1)
            ELSE ga.s_all / ga.n_all END AS loo_enc,
       (c.s_c - r.o_totalprice + {TE_SMOOTH} * (ga.s_all / ga.n_all))
         / (c.n_c - 1 + {TE_SMOOTH}) AS smooth_enc
FROM rows_in r
JOIN cat c USING (o_orderpriority)
CROSS JOIN g_all ga
"""


@register(
    "q_target_encoding_loo",
    oracle=_TE_ORACLE,
    tags=("feature-prep", "encoding", "leakage", "training-data"),
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value (one month of orders): each row's categorical feature
    becomes the mean target of OTHER rows in its category —
    `(S_c − own) / (n_c − 1)` — plus a prior-smoothed variant
    `(S_c − own + m·μ) / (n_c − 1 + m)`. Excluding the row's own
    target is the leakage control (naive category means let the model
    read its own label through the feature; the same concern
    q_leakage_safe_split_by_source handles at split grain, handled
    here at row grain).

    Scale shape: per-category sums partial-aggregate to |categories|
    rows, which broadcast back onto the row stream along with the two
    global scalars — encoding is then a map-side expression; no
    shuffle of the fact rows at any point, so the plan is unchanged at
    100 TB. The month filter is pushed to the parquet scan
    (PushedFilters). Sums fold sorted (bit-identical to the oracle);
    the production form is a plain partial-agg sum.
    """
    orders = load_table(spark, sf_dir, "orders")
    rows_in = orders.filter(
        (F.col("o_orderdate") >= F.lit(TE_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(TE_END).cast("timestamp"))
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
    cat = rows_in.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        det_sum("o_totalprice").alias("s_c"),
    )
    glob = rows_in.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        det_sum("o_totalprice").alias("s_all"),
    )
    mu = F.col("s_all") / F.col("n_all")
    loo = F.when(
        F.col("n_c") > 1,
        (F.col("s_c") - F.col("o_totalprice")) / (F.col("n_c") - 1),
    ).otherwise(mu)
    smooth = (
        F.col("s_c") - F.col("o_totalprice") + F.lit(TE_SMOOTH) * mu
    ) / (F.col("n_c") - 1 + F.lit(TE_SMOOTH))
    return (
        rows_in.join(F.broadcast(cat), "o_orderpriority")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            loo.alias("loo_enc"),
            smooth.alias("smooth_enc"),
        )
    )


# --- weekly OHLC resample ---------------------------------------------------

_OHLC_ORACLE = """
WITH w AS (
    SELECT date_trunc('week', o_orderdate) AS week,
           o_totalprice AS p, o_orderdate AS d, o_orderkey AS k
    FROM orders
),
r AS (
    SELECT week, p,
           row_number() OVER (PARTITION BY week ORDER BY d ASC,  k ASC)  AS rf,
           row_number() OVER (PARTITION BY week ORDER BY d DESC, k DESC) AS rl
    FROM w
)
SELECT week,
       CAST(count(*) AS BIGINT)          AS n_orders,
       max(CASE WHEN rf = 1 THEN p END)  AS open_price,
       max(p)                            AS high_price,
       min(p)                            AS low_price,
       max(CASE WHEN rl = 1 THEN p END)  AS close_price
FROM r GROUP BY week
"""


@register(
    "q_ohlc_weekly_orders",
    oracle=_OHLC_ORACLE,
    tags=("time-series", "resample", "ohlc", "agg"),
)
def q_ohlc_weekly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC resample of the order-value series: per ISO week,
    the first/highest/lowest/last order value plus count — the
    classic downsample-to-calendar-grain operator (metrics dashboards,
    financial bars, telemetry rollups). The reference has no temporal
    rollup at all (its snapshots are point-in-time, app.py:57); this
    is the generalization of q_monthly_order_extremes from
    value-extremes to SEQUENCE-extremes (first/last by event time).

    Scale shape: open/close are `min/max(struct(event_time, key,
    value))` ARG-EXTREMUM AGGREGATES, not window ranks — partial
    aggregation keeps one candidate per week per mapper, so a hot week
    costs one shuffle row per mapper instead of shuffling every row to
    one task (same rationale as q_monthly_order_extremes; the oracle
    replays the semantics with window ranks). Ties on timestamp break
    deterministically on the unique order key via lexicographic struct
    comparison. Shuffle cardinality: |weeks| × partitions.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        F.date_trunc("week", F.col("o_orderdate")).alias("week"),
        F.col("o_totalprice").alias("p"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    first = F.min(F.struct("d", "k", "p"))
    last = F.max(F.struct("d", "k", "p"))
    return w.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_orders"),
        first.getField("p").alias("open_price"),
        F.max("p").alias("high_price"),
        F.min("p").alias("low_price"),
        last.getField("p").alias("close_price"),
    )


# --- hybrid retrieval: reciprocal-rank fusion -------------------------------

RRF_K = 60          # standard RRF damping constant
RRF_CAND = 50       # per-ranker candidate depth
RRF_TOPK = 20
RRF_QUERY_VEC = 0   # query = embedding of vec_id 0 (ANN-suite convention)

_RRF_ORACLE = f"""
WITH {_BM25_PERDOC_CTES},
bm25_top AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25
    FROM (
        SELECT doc_id, bm25 FROM per_doc
        WHERE doc_id <> {RRF_QUERY_VEC}
        ORDER BY bm25 DESC, doc_id LIMIT {RRF_CAND}
    )
),
e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           sqrt(list_reduce(list_transform(list_zip(embedding::DOUBLE[], embedding::DOUBLE[]), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v))
             AS norm
    FROM embeddings
),
q AS (SELECT emb AS qemb, norm AS qnorm FROM e WHERE vec_id = {RRF_QUERY_VEC}),
cos_top AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r_cos
    FROM (
        SELECT e.vec_id,
               list_reduce(list_transform(list_zip(e.emb, q.qemb), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)
               / (e.norm * q.qnorm) AS cos_sim
        FROM e, q WHERE e.vec_id <> {RRF_QUERY_VEC}
        ORDER BY cos_sim DESC, e.vec_id LIMIT {RRF_CAND}
    )
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       coalesce(1.0 / ({RRF_K} + r_bm25), 0.0)
         + coalesce(1.0 / ({RRF_K} + r_cos), 0.0) AS rrf_score
FROM bm25_top FULL OUTER JOIN cos_top USING (doc_id)
ORDER BY rrf_score DESC, doc_id
LIMIT {RRF_TOPK}
"""


@register(
    "q_hybrid_rrf_retrieval",
    oracle=_RRF_ORACLE,
    tags=("retrieval", "hybrid", "rrf", "similarity", "training-data"),
)
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: fuse the BM25
    lexical ranking (fixed 3-term query) with the embedding-cosine
    ranking (query = vector {RRF_QUERY_VEC}, the ANN-suite convention)
    as RRF(d) = Σ_rankers 1/(60 + rank_r(d)) over each ranker's top-50
    — the standard zero-tuning fusion behind hybrid search and
    retrieval-based corpus curation (lexical catches exact
    terminology, dense catches paraphrase; RRF needs no score
    calibration because it only consumes RANKS).

    Scale shape: each ranker independently reduces the corpus to a
    50-row candidate list via TakeOrderedAndProject (k rows per
    partition — no global sort of the corpus); ranks are then assigned
    by a window over ≤50 rows (bounded by the literal candidate depth,
    not data size), the fusion join is a full-outer sort-merge over
    the two 50-row lists (Spark cannot broadcast-hash a keyed full
    outer join; sorting 50 rows is free), and fused scores are
    1/(k+rank) from integer ranks added in fixed order. Rank
    stability: ranks are EXACT integers, so the oracle replays the
    cosine as the SAME left-to-right fold Spark's dot_expr runs
    (list_zip→multiply→list_reduce, seed-equivalent) — bit-identical
    scores, hence identical orderings, with the (score DESC, id)
    tie-break closing the exact-tie case. The cosine side is the
    map-only broadcast-query pattern of q_ann_bruteforce_topk; at 100 TB both
    candidate generators would be index-backed (IVF / posting lists)
    with this exact fusion tail unchanged.
    """
    from pyspark.sql import Window

    from cost_of_living_data_etl_spark.operators.similarity import (
        cosine_expr,
        with_norm,
    )

    bm25_cand = (
        _bm25_per_doc(spark, sf_dir)
        .filter(F.col("doc_id") != RRF_QUERY_VEC)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_CAND)
    )
    bm25_top = bm25_cand.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r_bm25"),
    )

    e = with_norm(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    q = e.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("embedding").alias("qemb"), F.col("norm").alias("qnorm")
    )
    cos_cand = (
        e.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(RRF_CAND)
    )
    cos_top = cos_cand.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), "doc_id"))
        .alias("r_cos"),
    )

    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("r_bm25")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_cos")), F.lit(0.0))
    return (
        bm25_top.join(cos_top, "doc_id", "full_outer")
        .select(F.col("doc_id").cast("long").alias("doc_id"), rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(RRF_TOPK)
    )


# --- column profiling --------------------------------------------------------

PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       CAST(count(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(count(*) FILTER (WHERE {c} IS NULL) AS DOUBLE)
         / (SELECT count(*) FROM orders) AS null_frac
FROM orders"""
    for c in PROFILE_COLS
)


@register(
    "q_column_profile_orders",
    oracle=_PROFILE_ORACLE,
    tags=("quality", "profiling", "diagnostics"),
)
def q_column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of the orders table: row count, null
    count, exact distinct count, null fraction — the Deequ /
    Great-Expectations-style profiling pass a pipeline runs on every
    new partition before trusting it (null-rate spikes and distinct
    collapses are the two loudest upstream-breakage signals;
    q_dq_violations_report checks declared CONSTRAINTS, this measures
    the undeclared shape).

    Scale shape: ONE scan — all per-column null counts are conditional
    sums in a single aggregate, and the multi-column exact distincts
    compile to Spark's Expand strategy (|cols|× row expansion, then
    one partial-aggregated shuffle); the output unpivots |cols| rows
    driver-side from a 1-row aggregate. The oracle's 5-scan UNION ALL
    shows what the single-pass form replaces. At 100 TB a profiling
    consumer that tolerates ±2% can swap exact count_distinct for
    approx_count_distinct (HLL, one pass, no Expand); this entry keeps
    the exact, oracle-pinnable variant.
    """
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nulls_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}"))
    one = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nulls_{c}, nd_{c}" for c in PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack}) AS (column_name, n_nulls, n_distinct)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        (F.col("n_nulls").cast("double") / F.col("n_rows")).alias("null_frac"),
    )


# --------------------------------------------------------------------------
# reproducible stratified hash sample
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
# deterministic negative sampling for contrastive training
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
# context-window utilization (token budget truncation report)
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
# join-key profile (the pre-join diagnostics a join doctor runs)
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
# data-contract violation audit
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
# point-in-time feature assembly (leakage-free training sets)
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
# MMR diversified top-k
# --------------------------------------------------------------------------

MMR_LAMBDA = 0.7  # relevance weight; (1-λ) = 0.3 diversity weight
MMR_POOL = 12  # exact-cosine candidate pool size
MMR_K = 5  # results returned
MMR_QUERY_ID = 0  # probe vector, same convention as q_ann_bruteforce_topk


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB CTEs, one stage per selection.

    Stage i scores every unselected candidate as
    ``λ·rel − (1−λ)·max_{s∈selected} sim(c, s)`` and takes the
    argmax (ties by vec_id) — the exact computation the Spark plan
    performs, so the hash gate verifies the greedy itself.
    """
    head = f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    q AS (SELECT emb AS qemb, norm AS qnorm FROM e WHERE vec_id = {MMR_QUERY_ID}),
    rel AS (
        SELECT e.vec_id,
               list_inner_product(e.emb, q.qemb) / (e.norm * q.qnorm) AS rel
        FROM e, q WHERE e.vec_id <> {MMR_QUERY_ID}
    ),
    cand AS (SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}),
    cv AS (SELECT c.vec_id, e.emb, e.norm FROM cand c JOIN e USING (vec_id)),
    sims AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               list_inner_product(a.emb, b.emb) / (a.norm * b.norm) AS sim
        FROM cv a JOIN cv b ON a.vec_id <> b.vec_id
    ),
    s1 AS (
        SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, rel AS relevance,
               {MMR_LAMBDA} * rel AS mmr_score
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    sel1 AS (SELECT vec_id FROM s1)"""
    steps = []
    for i in range(2, MMR_K + 1):
        steps.append(f"""
    p{i} AS (
        SELECT c.vec_id, c.rel,
               {MMR_LAMBDA} * c.rel - {round(1 - MMR_LAMBDA, 12)} * max(s.sim) AS score
        FROM cand c
        JOIN sims s ON s.va = c.vec_id
                   AND s.vb IN (SELECT vec_id FROM sel{i - 1})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        GROUP BY c.vec_id, c.rel
    ),
    s{i} AS (
        SELECT CAST({i} AS BIGINT) AS sel_rank, vec_id, rel AS relevance,
               score AS mmr_score
        FROM p{i} ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel{i} AS (SELECT vec_id FROM sel{i - 1} UNION ALL SELECT vec_id FROM s{i})"""
        )
    union = "\n    UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1))
    return head + "," + ",".join(steps) + "\n    " + union


@register(
    "q_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "retrieval", "diversity", "topk"),
)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance top-{MMR_K} for the vec_id=0 probe:
    greedily pick argmax of ``λ·relevance − (1−λ)·max sim to already
    selected`` from the exact-cosine top-{MMR_POOL} pool (first pick
    scores λ·rel — the max over the empty set is 0 by convention).
    Ties break by vec_id. The diversity term is what keeps a RAG
    context window or an eval panel from filling with near-duplicates
    of the single best hit.

    Plan: ONE map-only broadcast-cosine scan feeds a
    TakeOrderedAndProject candidate pool that carries the vectors
    (per-partition heap of {MMR_POOL} wide rows — no second corpus
    scan to re-fetch them); everything after is constant-size
    ({MMR_POOL} candidates, {MMR_POOL}² sims, K unrolled argmax steps
    over tiny frames). The pool, the sim matrix, and each step's
    selected set are localCheckpoint-ed (the SCALE.md §7
    multi-consumer-intermediate rule): without it the unrolled lineage
    re-ran the corpus scan per greedy branch (measured 8.3 s warm at
    sf0.1; ~1.4 s after). At 100 TB the corpus scan is the only
    data-scale stage — exactly the q_ann_bruteforce_topk shape — and
    the greedy is O(K·POOL) regardless of corpus size; for query
    BATCHES the same greedy runs per query-group over grouped
    candidate frames. North-star extension operator (SURVEY.md §2.8
    similarity search); no reference analogue.
    """
    lam = MMR_LAMBDA
    one_minus = round(1 - MMR_LAMBDA, 12)
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("qemb"), F.col("norm").alias("qnorm")
    )
    rel = (
        e.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("rel"),
            "embedding",
            "norm",
        )
    )
    # The ONE data-scale job: score + pool, vectors carried through the
    # top-k (the per-partition heap holds POOL wide rows) so the pool
    # never re-scans the corpus to recover them. Checkpoint so the K
    # unrolled greedy branches below never re-run this scan either.
    cand = (
        rel.orderBy(F.col("rel").desc(), "vec_id").limit(MMR_POOL).transform(eager_checkpoint)
    )
    a, b = cand.alias("a"), cand.alias("b")
    sims = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            cosine_expr("a.embedding", "b.embedding", "a.norm", "b.norm").alias(
                "sim"
            ),
        )
    ).transform(eager_checkpoint)  # POOL² rows, reused by every greedy step
    cand = cand.select("vec_id", "rel")
    selected = (
        cand.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("sel_rank"),
            "vec_id",
            F.col("rel").alias("relevance"),
            (F.lit(lam) * F.col("rel")).alias("mmr_score"),
        )
    )
    for i in range(2, MMR_K + 1):
        sel_ids = selected.select("vec_id")
        scored = (
            cand.join(sel_ids, "vec_id", "left_anti")
            .join(
                sims.join(
                    F.broadcast(sel_ids.withColumnRenamed("vec_id", "vb")), "vb"
                )
                .groupBy("va")
                .agg(F.max("sim").alias("max_sim")),
                F.col("vec_id") == F.col("va"),
            )
            .select(
                "vec_id",
                "rel",
                (F.lit(lam) * F.col("rel") - F.lit(one_minus) * F.col("max_sim")).alias(
                    "score"
                ),
            )
        )
        pick = (
            scored.orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("sel_rank"),
                "vec_id",
                F.col("rel").alias("relevance"),
                F.col("score").alias("mmr_score"),
            )
        )
        # ≤K-row frame; checkpointing keeps step i+1's lineage flat
        # instead of recursively re-deriving every earlier pick.
        selected = selected.unionByName(pick).transform(eager_checkpoint)
    return selected


# --------------------------------------------------------------------------
# length-curriculum phases by character-mass quartile
# --------------------------------------------------------------------------

CURRICULUM_PHASES = 4

_CURRICULUM_ORACLE = f"""
WITH c AS (
    SELECT doc_id, n_chars,
           CAST(coalesce(sum(n_chars) OVER (
               ORDER BY n_chars, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cb
    FROM documents
),
tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w FROM documents)
SELECT CAST(least({CURRICULUM_PHASES - 1},
                  (cb * {CURRICULUM_PHASES}) // (SELECT w FROM tot)) + 1 AS INT)
           AS phase,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_chars) AS BIGINT)  AS chars_total,
       CAST(min(n_chars) AS BIGINT)  AS min_chars,
       CAST(max(n_chars) AS BIGINT)  AS max_chars
FROM c
GROUP BY 1
"""


@register(
    "q_curriculum_length_phases",
    oracle=_CURRICULUM_ORACLE,
    tags=("corpus", "curriculum", "distributed-rank"),
)
def q_curriculum_length_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length curriculum manifest: documents ordered
    shortest-first, split into CURRICULUM_PHASES phases of EQUAL
    CHARACTER MASS (equal training budget per phase, not equal doc
    counts — the quantity a curriculum scheduler actually allocates).
    Phase = which quarter of the cumulative mass the document's
    interval starts in; per phase the manifest reports doc count,
    char total, and the length band.

    Exactness: phase is integer DIV of exact BIGINT prefix sums over
    the TOTAL order (n_chars, doc_id); the least() cap only guards
    zero-length tail docs whose cum_before equals the full mass.

    Scale: one prefix-sum pass (bucket-partitioned,
    operators/distributed_rank.py) + a ≤4-row aggregate; nothing
    global, nothing quadratic.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_prefix_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c = with_prefix_sums(
        docs,
        ["n_chars", "doc_id"],
        F.floor(F.col("n_chars") / F.lit(64)),
        {"n_chars": "cb"},
    )
    tot = docs.groupBy().agg(F.sum("n_chars").cast("long").alias("w"))
    phase = F.expr(
        f"CAST(least({CURRICULUM_PHASES - 1}, (cb * {CURRICULUM_PHASES}) DIV w)"
        f" + 1 AS INT)"
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy(phase.alias("phase"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )
