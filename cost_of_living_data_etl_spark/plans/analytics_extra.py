"""Advanced analytics: association rules, seasonal decomposition,
CUSUM changepoint scan, and ranking-quality evaluation.

Four families the reference's warehouse consumers would ask for next
(reference app.py stops at append-loading facts; these are the
decision-support passes OVER those facts), each with a bit-identical
DuckDB oracle:

- market-basket association rules over order baskets (support /
  confidence / lift) — the co-purchase signal behind "frequently
  bought together";
- trend / day-of-week seasonality / residual decomposition of the
  daily revenue series — the classical additive decomposition on a
  moving-average trend;
- one-sided CUSUM scan over daily revenue — the sequential drift
  detector that flags WHEN a level shift started, complementing
  q_revenue_anomaly_days' pointwise z-scores and q_psi_price_drift's
  distribution drift;
- nDCG@k evaluation of the embedding cosine ranker against label
  relevance — the retrieval-quality metric for curation rankers
  (BM25 / cosine / RRF in plans/feature_prep.py produce rankings;
  this measures one).

Float discipline (same toolkit as the rest of the catalog): counts
stay integral as long as possible; money sums snap to the 2-decimal
grid; unordered double sums use the sorted-fold ``det_sum``;
sequential recurrences (CUSUM) fold day-ordered arrays with
structurally identical lambdas on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.events_queries import (
    SESSIONS_CTE,
    with_session_seq,
)
from cost_of_living_data_etl_spark.sources.tables import load_table

MIN_CO = 3  # association rules: minimum co-occurrence count
BASKET_TOPK = 20  # association rules: result size
TREND_HALF = 3  # seasonal decomposition: +-3 observed days (7-day MA)
NDCG_NQ = 5  # ranking eval: queries vec_id 0..NQ-1
NDCG_K = 10  # ranking eval: cutoff


# shared daily-revenue rollup: ONE definition of the series every
# time-series query below consumes (money-grid snap included), oracle
# fragment and Spark helper in lockstep
_DAILY_CTE = """daily AS (
    SELECT date_trunc('day', o_orderdate) AS day,
           round(sum(o_totalprice), 2)    AS revenue
    FROM orders GROUP BY 1
)"""


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, revenue) rollup — the Spark twin of ``_DAILY_CTE``."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


# --- market-basket association rules ---------------------------------------

_BASKET_ORACLE = f"""
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
c AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY l_partkey),
p AS (
    SELECT a.l_partkey AS p1, d.l_partkey AS p2, count(*) AS co
    FROM b a JOIN b d
      ON a.l_orderkey = d.l_orderkey AND a.l_partkey < d.l_partkey
    GROUP BY a.l_partkey, d.l_partkey
)
SELECT CAST(p1 AS BIGINT) AS p1,
       CAST(p2 AS BIGINT) AS p2,
       CAST(co AS BIGINT) AS co_count,
       CAST(co AS DOUBLE) / n.n_orders                    AS support,
       CAST(co AS DOUBLE) / c1.cnt                        AS confidence,
       CAST(co * n.n_orders AS DOUBLE) / (c1.cnt * c2.cnt) AS lift
FROM p
JOIN c c1 ON c1.l_partkey = p.p1
JOIN c c2 ON c2.l_partkey = p.p2
CROSS JOIN n
WHERE co >= {MIN_CO}
ORDER BY lift DESC, p1, p2
LIMIT {BASKET_TOPK}
"""


@register(
    "q_market_basket_lift",
    oracle=_BASKET_ORACLE,
    tags=("association-rules", "basket", "agg"),
)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by lift over order baskets, with support and
    confidence — classic association-rule mining.

    Shape: baskets come from ONE groupBy on l_orderkey
    (``sort_array(collect_set)``), and ordered pairs are generated
    inside the row by a nested ``transform`` — no self-join of the
    basket table, so the pair stage shuffles |orders| basket arrays
    (bounded: TPC-H baskets are <= ~13 parts → <= 78 pairs each), not
    |baskets|² join candidates. Per-part counts broadcast onto the
    pair aggregate. All metrics derive from exact integers with one
    final double division each, so the oracle (which states the same
    pairs relationally via self-join) hash-matches bit-for-bit.

    At 100 TB: identical plan; the pair aggregate's key space is
    bounded by observed co-occurrence (sparse), and a MIN_CO
    pre-filter on partial counts drops the long tail map-side.
    """
    # collect_set dedupes in the SAME aggregate that builds the basket,
    # so no separate distinct() pass over (order, part) — one shuffle
    # builds the basket table and everything else derives from it
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    n_orders = baskets.groupBy().agg(F.count(F.lit(1)).alias("n_orders"))
    part_counts = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps) - i - 1),"
                "           y -> struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    co = (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("co_count"))
        .filter(F.col("co_count") >= MIN_CO)
    )
    scored = (
        co.join(
            F.broadcast(part_counts.withColumnsRenamed({"l_partkey": "p1", "cnt": "c1"})),
            "p1",
        )
        .join(
            F.broadcast(part_counts.withColumnsRenamed({"l_partkey": "p2", "cnt": "c2"})),
            "p2",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("p1").cast("long").alias("p1"),
            F.col("p2").cast("long").alias("p2"),
            F.col("co_count").cast("long").alias("co_count"),
            (F.col("co_count").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("co_count").cast("double") / F.col("c1")).alias("confidence"),
            (
                (F.col("co_count") * F.col("n_orders")).cast("double")
                / (F.col("c1") * F.col("c2"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "p1", "p2").limit(BASKET_TOPK)


# --- additive seasonal decomposition ---------------------------------------

_SEASONAL_ORACLE = f"""
WITH {_DAILY_CTE},
d2 AS (
    SELECT day, CAST(dayofweek(day) AS INT) AS dow, revenue FROM daily
),
t AS (
    SELECT day, dow, revenue,
           round(
               sum(revenue) OVER w / count(*) OVER w, 4
           ) AS trend
    FROM d2
    WINDOW w AS (ORDER BY day ROWS BETWEEN {TREND_HALF} PRECEDING
                                       AND {TREND_HALF} FOLLOWING)
),
s AS (
    SELECT dow,
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_sort(list(revenue - trend))),
               (a, x) -> a + x
           ) / count(*) AS seasonal
    FROM t GROUP BY dow
)
SELECT t.day, t.revenue, t.trend,
       s.seasonal                         AS seasonal,
       t.revenue - t.trend - s.seasonal   AS residual
FROM t JOIN s ON t.dow = s.dow
"""


@register(
    "q_seasonal_decompose_revenue",
    oracle=_SEASONAL_ORACLE,
    tags=("timeseries", "seasonality", "window"),
)
def q_seasonal_decompose_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive decomposition of daily revenue: centered 7-observed-day
    moving-average trend, day-of-week seasonal index from the
    detrended series, residual = revenue - trend - seasonal.

    Float pinning: daily revenue snaps to the money grid (round 2);
    the trend divides a windowed sum by the windowed count and snaps
    to 4 decimals — the window sum's ulp drift (engines may associate
    frame sums differently) is ~1e-9 on these magnitudes, 5 orders
    inside the snap; the per-DOW seasonal mean uses the sorted-fold
    det_sum so both engines add identical values in identical order.
    Downstream arithmetic is then identical-input identical-op.

    Scale: one shuffle to |days| rows, a |days|-row window, a
    |dow|-group aggregate — post-rollup cost is calendar-bounded, not
    data-bounded. The trend frame is over OBSERVED days (ROWS frame):
    on a gappy series densify first (q_timeseries_gapfill_ffill).
    """
    # dow is an INTERNAL grouping/join key only, never emitted: Spark's
    # dayofweek is Sunday=1 while DuckDB's is Sunday=0, but any
    # per-engine consistent day-of-week labeling groups identically
    # (the mapping is a bijection), so the decomposition matches
    daily = _daily_revenue(spark, sf_dir).withColumn(
        "dow", F.dayofweek("day").cast("int")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(-TREND_HALF, TREND_HALF)
    )
    t = daily.select(
        "day",
        "dow",
        "revenue",
        F.round(
            F.sum("revenue").over(w) / F.count(F.lit(1)).over(w), 4
        ).alias("trend"),
    )
    s = t.groupBy("dow").agg(
        (det_sum("revenue - trend") / F.count(F.lit(1))).alias("seasonal")
    )
    return t.join(s, "dow").select(
        "day",
        "revenue",
        "trend",
        "seasonal",
        (F.col("revenue") - F.col("trend") - F.col("seasonal")).alias("residual"),
    )


# --- CUSUM changepoint scan ------------------------------------------------

_CUSUM_ORACLE = f"""
WITH {_DAILY_CTE},
m AS (
    SELECT list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_sort(list(revenue))),
               (a, x) -> a + x
           ) / count(*) AS mu
    FROM daily
),
p AS (
    SELECT day, revenue,
           round(sum(revenue - mu) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS pref
    FROM daily CROSS JOIN m
),
c AS (
    SELECT day, revenue,
           pref - least(CAST(0.0 AS DOUBLE), min(pref) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )) AS cusum
    FROM p
)
SELECT day, revenue, cusum FROM c WHERE cusum > 0
"""


@register(
    "q_cusum_changepoint_revenue",
    oracle=_CUSUM_ORACLE,
    tags=("timeseries", "changepoint", "drift"),
)
def q_cusum_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM scan over daily revenue: S_t = max(0,
    S_{t-1} + (x_t - mu)), emitting the days where the accumulated
    upward drift is positive. Where q_revenue_anomaly_days flags
    single outlier days, CUSUM accumulates small persistent shifts —
    the sequential changepoint detector (Page 1954).

    Instead of folding the recurrence (single-task, like the EWMA),
    this uses the reflected-walk identity
    ``S_t = P_t - min(0, min_{j<=t} P_j)`` with ``P`` the prefix sum
    of deviations — two ordinary running windows, the form that stays
    DISTRIBUTED (range-partitioned window) when the series is long or
    there are many parallel series. Float pinning: mu is the
    sorted-fold mean (det_sum); the prefix sum snaps to 4 decimals
    (engines may associate running sums differently; the ulp drift is
    ~1e-9 on these magnitudes, far inside the snap); the running min
    and subtraction are then identical-input identical-op.

    Scale: one shuffle to the |days| rollup, then |days|-row windows.
    A single global series means one window partition — for real
    deployments scan per segment (status, region, source) so the
    window partitions by key; the per-key plan is unchanged.
    """
    daily = _daily_revenue(spark, sf_dir)
    mu = daily.groupBy().agg(
        (det_sum("revenue") / F.count(F.lit(1))).alias("mu")
    )
    run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = daily.crossJoin(F.broadcast(mu)).select(
        "day",
        "revenue",
        F.round(F.sum(F.col("revenue") - F.col("mu")).over(run), 4).alias("pref"),
    )
    c = p.select(
        "day",
        "revenue",
        (
            F.col("pref")
            - F.least(F.lit(0.0), F.min("pref").over(run))
        ).alias("cusum"),
    )
    return c.filter(F.col("cusum") > 0)


# --- ranking-quality evaluation (nDCG@k) -----------------------------------

_NDCG_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS qlabel, emb AS qemb, norm AS qnorm
      FROM e WHERE vec_id < {NDCG_NQ}),
ranked AS (
    SELECT q.qid, q.qlabel,
           CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel,
           row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_inner_product(e.emb, q.qemb) / (e.norm * q.qnorm) DESC,
                        e.vec_id
           ) AS rk
    FROM e JOIN q ON e.vec_id <> q.qid
),
rel_counts AS (
    SELECT qid, CAST(sum(rel) AS BIGINT) AS n_relevant FROM ranked GROUP BY qid
),
dcg AS (
    SELECT qid, qlabel,
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_sort(list(rel / (ln(rk + 1) / ln(2.0))))),
               (a, x) -> a + x
           ) AS dcg
    FROM ranked WHERE rk <= {NDCG_K}
    GROUP BY qid, qlabel
),
idcg AS (
    -- zero-relevance queries are excluded (nDCG is undefined: no
    -- ideal ordering exists); the filter also keeps the term
    -- sequence non-empty on both engines
    SELECT qid,
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_sort(list_transform(
                                range(1, CAST(least(n_relevant, {NDCG_K}) AS BIGINT) + 1),
                                i -> 1.0 / (ln(i + 1) / ln(2.0))))),
               (a, x) -> a + x
           ) AS idcg
    FROM rel_counts
    WHERE n_relevant >= 1
)
SELECT CAST(d.qid AS BIGINT) AS query_id,
       CAST(d.qlabel AS INT) AS query_label,
       r.n_relevant          AS n_relevant,
       d.dcg                 AS dcg,
       i.idcg                AS idcg,
       d.dcg / i.idcg        AS ndcg
FROM dcg d JOIN idcg i ON d.qid = i.qid JOIN rel_counts r ON d.qid = r.qid
"""


@register(
    "q_ndcg_ranker_eval",
    oracle=_NDCG_ORACLE,
    tags=("similarity", "ranking", "evaluation"),
)
def q_ndcg_ranker_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{k} of the embedding-cosine ranker with same-label
    relevance: per query, rank the corpus by cosine, score the top-k
    by graded position discount, normalize by the ideal ordering.
    The measurement half of retrieval-based curation — BM25 / cosine /
    RRF produce rankings, this says how good one is.

    Shape: queries broadcast, corpus map-only cosine (shared fold),
    per-query rank via a |queries|-partition window over top-k
    candidates only after a per-query TakeOrdered-style pre-filter is
    unnecessary at |q|=5 — the window partitions by qid over the
    scored stream. DCG/IDCG are <=k-term double sums computed with
    sorted folds (det_sum discipline) so both engines add the same
    terms in the same order; log2 is ln(x)/ln(2) on both.

    At 100 TB / many queries: per-query top-k first (q_ann_batch_topk
    shape) so the rank window sees k rows per query, not the corpus.
    """
    from cost_of_living_data_etl_spark.operators.similarity import (
        cosine_expr,
        with_norm,
    )

    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            F.when(F.col("label") == F.col("qlabel"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("rel"),
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    ranked = scored.withColumn("rk", F.row_number().over(wr))
    rel_counts = ranked.groupBy("qid").agg(
        F.sum("rel").cast("long").alias("n_relevant")
    )
    dcg = (
        ranked.filter(F.col("rk") <= NDCG_K)
        .groupBy("qid", "qlabel")
        .agg(det_sum("rel / (ln(rk + 1) / ln(2.0))").alias("dcg"))
    )
    # zero-relevance queries are excluded (nDCG undefined — no ideal
    # ordering), which also keeps sequence() ascending and non-empty:
    # Spark's sequence(1, 0) yields the DESCENDING [1, 0], whose i=0
    # term divides by ln(1)=0 and throws under ANSI mode
    idcg = rel_counts.filter(F.col("n_relevant") >= 1).select(
        "qid",
        "n_relevant",
        F.expr(
            f"aggregate("
            f"  array_sort(transform(sequence(1, int(least(n_relevant, {NDCG_K}))),"
            "             i -> 1.0 / (ln(i + 1) / ln(2.0)))),"
            "  CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("idcg"),
    )
    return dcg.join(F.broadcast(idcg), "qid").select(
        F.col("qid").cast("long").alias("query_id"),
        F.col("qlabel").cast("int").alias("query_label"),
        "n_relevant",
        "dcg",
        "idcg",
        (F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


# --- shared session-interval building block --------------------------------
# Per-session intervals over the one gap rule in events_queries
# (``with_session_seq`` / ``SESSIONS_CTE``); the session-derived queries
# here and in customer_analytics consume them, oracle and Spark side.

_PER_SESSION_CTE = f"""{SESSIONS_CTE},
per_session AS (
    SELECT user_id, session_seq, min(ts) AS s, max(ts) AS e,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_seq
)"""


def _session_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session (user_id, session_seq, s, e, n_events) under the
    shared 30-min gap rule — the Spark twin of ``_PER_SESSION_CTE``.

    NOTE: scan-parallelization + an eager checkpoint of the
    interval frame were A/B-tested on the concurrency consumer and
    REJECTED (3.20 s old vs 3.65 s new min, interleaved) — the window
    already rides one user_id exchange and ReuseExchange dedups the
    interval derivations, so the extra re-key + materialization job
    only added cost."""
    return (
        with_session_seq(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- peak session concurrency (interval sweep) -----------------------------

_CONCURRENCY_ORACLE = f"""
WITH {_PER_SESSION_CTE},
bounds AS (
    SELECT s AS ts, 1 AS delta FROM per_session
    UNION ALL
    SELECT e AS ts, -1 AS delta FROM per_session
    UNION ALL
    -- day-opening probe rows (delta 0): without them, a day whose
    -- peak is CARRIED IN from sessions that started the previous day
    -- would only sample post-decrement values, and a day fully inside
    -- a long session would have no row at all
    SELECT unnest(generate_series(
               (SELECT date_trunc('day', min(s)) FROM per_session),
               (SELECT date_trunc('day', max(e)) FROM per_session),
               INTERVAL 1 DAY)) AS ts,
           0 AS delta
),
sweep AS (
    SELECT ts, delta,
           sum(delta) OVER (
               ORDER BY ts, delta DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS concurrency
    FROM bounds
)
SELECT date_trunc('day', ts)                  AS day,
       CAST(max(concurrency) AS BIGINT)       AS peak_concurrency
FROM sweep
GROUP BY date_trunc('day', ts)
"""


def concurrency_blocks(bounds: DataFrame) -> DataFrame:
    """Distinct (ts, delta) boundary blocks with counts and the signed
    weight the sweep's prefix scan consumes. Factored so tests can
    assert the pre-checkpoint plan shape (sessions → ±1 boundary
    union → block rollup) — the catalog query materializes this frame
    before the two-read scan."""
    return (
        bounds.groupBy("ts", "delta")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("w", (F.col("delta") * F.col("cnt")).cast("long"))
    )


def _concurrency_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±1 boundary rows from the SESSION-INTERVAL aggregate (2 per
    session) plus delta-0 midnight probe rows — the pre-checkpoint
    input of q_concurrent_sessions_peak, factored out so plan tests
    can audit the exact frame the catalog query consumes (the
    checkpoint in the query hides this lineage behind a LogicalRDD)."""
    intervals = _session_intervals(spark, sf_dir)
    # day-opening probe rows (delta 0): sample the carried-in
    # concurrency at each midnight, so a day whose peak arrives from
    # sessions begun the previous day (or that sits entirely inside a
    # long session) reports the true value
    grid = (
        intervals.groupBy()
        .agg(
            F.date_trunc("day", F.min("s")).alias("d0"),
            F.date_trunc("day", F.max("e")).alias("d1"),
        )
        .select(
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("ts"),
            F.lit(0).alias("delta"),
        )
    )
    return (
        intervals.select(F.col("s").alias("ts"), F.lit(1).alias("delta"))
        .unionAll(
            intervals.select(F.col("e").alias("ts"), F.lit(-1).alias("delta"))
        )
        .unionAll(grid)
    )


@register(
    "q_concurrent_sessions_peak",
    oracle=_CONCURRENCY_ORACLE,
    tags=("events", "session", "interval", "window"),
)
def q_concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous user sessions per day — the capacity-planning
    number — via the classic interval sweep: sessions (same 30-min gap
    rule as q_events_sessionization) become +1/-1 boundary events, a
    running sum over the time-ordered boundaries is the live
    concurrency, and the daily max is the peak.

    All-integer end to end — no float surface at all. Tie policy:
    boundaries at the same instant order starts (+1), then midnight
    probes (0), then ends (-1) (``delta DESC``), so a session ending
    exactly when another starts counts as overlapping; within a tie
    group the running values form a deterministic multiset whatever
    the row permutation, and only per-day MAX is emitted, so the
    result is order-unambiguous. Every calendar day between the first
    session start and the last session end is reported: midnight
    probe rows sample the carried-in concurrency, so a peak reached
    by sessions begun the previous day — or a day sitting entirely
    inside one long session — is never under-counted (a zero-probe
    day reports its true peak of 0).

    Scale: sessionization shuffles on user_id (as the session query
    does); the sweep is DISTRIBUTED: boundaries roll up to distinct
    (ts, delta) blocks, the carried-in concurrency of each block is an
    exclusive prefix sum over day-bucketed partitioned windows
    (operators/distributed_rank.py), and the block's own peak is
    closed-form (all rows in a block share delta: +1 blocks peak at
    prefix + delta·cnt, -1 blocks at prefix − 1, probe blocks at
    prefix) — the per-row running values never materialize, and no
    single task sees the whole boundary table. Per-day MAX over block
    peaks is EXACTLY the per-day max of the row-level running sum.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_prefix_sums,
    )
    # 2 rows/session; consumed by the scan's rollup AND the join —
    # materialize so sessionization runs once (the checkpoint hides
    # lineage behind a Scan ExistingRDD even when lazy, so the plan
    # test audits the factored pre-checkpoint builder the query calls:
    # _concurrency_bounds)
    blocks = concurrency_blocks(
        _concurrency_bounds(spark, sf_dir)
    ).transform(eager_checkpoint)
    scanned = with_prefix_sums(
        blocks,
        [F.col("ts"), F.col("delta").desc()],
        F.floor(F.col("ts").cast("double") / F.lit(86400.0)),
        {"w": "carried_in"},
    )
    block_peak = F.col("carried_in") + F.when(
        F.col("delta") > 0, F.col("w")
    ).otherwise(F.col("delta"))
    return (
        scanned.withColumn("concurrency", block_peak)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.max("concurrency").cast("long").alias("peak_concurrency"))
    )


# --- Matryoshka truncation recall ------------------------------------------

MRL_DIMS = 16  # truncated prefix width (of 64)
MRL_K = 10  # recall cutoff


_MRL_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           embedding[1:{MRL_DIMS}]::DOUBLE[] AS emb_t,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
           sqrt(list_inner_product(embedding[1:{MRL_DIMS}]::DOUBLE[],
                                   embedding[1:{MRL_DIMS}]::DOUBLE[])) AS norm_t
    FROM embeddings
),
q AS (SELECT vec_id AS qid, emb AS qemb, emb_t AS qemb_t,
             norm AS qnorm, norm_t AS qnorm_t
      FROM e WHERE vec_id < {NDCG_NQ}),
full_rank AS (
    SELECT q.qid, e.vec_id,
           row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_inner_product(e.emb, q.qemb) / (e.norm * q.qnorm) DESC,
                        e.vec_id
           ) AS rk
    FROM e JOIN q ON e.vec_id <> q.qid
),
trunc_rank AS (
    -- a zero 16-dim prefix (possible with sparse/quantized vectors)
    -- would divide by zero: rank such vectors as never-similar (-2,
    -- below any real cosine) instead — identical rule both engines
    SELECT q.qid, e.vec_id,
           row_number() OVER (
               PARTITION BY q.qid
               ORDER BY CASE WHEN e.norm_t * q.qnorm_t = 0 THEN -2.0
                             ELSE list_inner_product(e.emb_t, q.qemb_t)
                                  / (e.norm_t * q.qnorm_t) END DESC,
                        e.vec_id
           ) AS rk
    FROM e JOIN q ON e.vec_id <> q.qid
)
SELECT CAST(f.qid AS BIGINT) AS query_id,
       CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
       CAST(count(t.vec_id) AS DOUBLE) / {MRL_K} AS recall_at_k
FROM full_rank f
LEFT JOIN trunc_rank t
  ON f.qid = t.qid AND f.vec_id = t.vec_id AND t.rk <= {MRL_K}
WHERE f.rk <= {MRL_K}
GROUP BY f.qid
"""


@register(
    "q_matryoshka_recall",
    oracle=_MRL_ORACLE,
    tags=("similarity", "ann", "evaluation"),
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of a dimension-truncated (Matryoshka-style) cosine
    ranking against the full-dimension ranking: rank the corpus per
    query by 16-dim-prefix cosine and by full 64-dim cosine, count the
    top-k overlap. THE measurement behind shipping truncated
    embeddings: 4x less memory/bandwidth for how much retrieval loss.

    Shape: both rankings share one broadcast-query scored pass (the
    prefix dot is computed on a slice of the same row — no second
    corpus scan), per-query rank windows, and an integer overlap
    count; only the final recall ratio divides. Cosines use the
    shared fold; ranks tie-break on vec_id, so both engines rank
    identically and the overlap is exact.

    At 100 TB: per-query top-k pre-selection first (q_ann_batch_topk
    shape), then the same overlap join on (qid, vec_id).
    """
    from cost_of_living_data_etl_spark.operators.similarity import (
        dot_expr,
        with_norm,
    )

    e = with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "emb_t", F.expr(f"slice(embedding, 1, {MRL_DIMS})")
    )
    e = e.withColumn("norm_t", F.sqrt(dot_expr("emb_t", "emb_t")))
    q = e.filter(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("emb_t").alias("qemb_t"),
        F.col("norm").alias("qnorm"),
        F.col("norm_t").alias("qnorm_t"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (dot_expr("embedding", "qemb") / (F.col("norm") * F.col("qnorm"))).alias(
                "cos_full"
            ),
            # zero 16-dim prefix ⇒ never-similar (-2.0, below any real
            # cosine) instead of an ANSI divide-by-zero
            F.when(F.col("norm_t") * F.col("qnorm_t") == 0, F.lit(-2.0))
            .otherwise(
                dot_expr("emb_t", "qemb_t") / (F.col("norm_t") * F.col("qnorm_t"))
            )
            .alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    wt = Window.partitionBy("qid").orderBy(F.desc("cos_trunc"), F.asc("vec_id"))
    ranked = scored.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rk_full"),
        F.row_number().over(wt).alias("rk_trunc"),
    )
    return (
        ranked.filter(F.col("rk_full") <= MRL_K)
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(F.col("rk_trunc") <= MRL_K, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_overlap")
        )
        .select(
            F.col("qid").cast("long").alias("query_id"),
            "n_overlap",
            (F.col("n_overlap").cast("double") / MRL_K).alias("recall_at_k"),
        )
    )


# --- Theil-Sen robust trend ------------------------------------------------

_THEILSEN_ORACLE = f"""
WITH {_DAILY_CTE},
idx AS (
    SELECT datediff('day', (SELECT min(day) FROM daily), day) AS d, revenue
    FROM daily
),
slopes AS (
    SELECT a.d AS d1, b.d AS d2,
           (b.revenue - a.revenue) / (b.d - a.d) AS slope
    FROM idx a JOIN idx b ON a.d < b.d
),
ranked AS (
    SELECT slope,
           row_number() OVER (ORDER BY slope, d1, d2) AS rk,
           count(*) OVER () AS n
    FROM slopes
)
SELECT CAST(n AS BIGINT)  AS n_pairs,
       slope              AS slope_per_day
FROM ranked
WHERE rk = (n + 1) // 2
"""


@register(
    "q_theilsen_revenue_trend",
    oracle=_THEILSEN_ORACLE,
    tags=("timeseries", "robust", "regression"),
)
def q_theilsen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of daily revenue: the median of all
    pairwise day-to-day slopes — a trend estimate a handful of
    outlier days cannot move (least-squares breaks at one bad day;
    Theil-Sen tolerates ~29% corruption).

    The median is the EXACT lower-median element selected by a total
    order (slope, d1, d2) — an order statistic, not an interpolated
    quantile, so no float averaging and both engines pick the same
    element bit-for-bit. Each slope is one subtraction and one
    division of grid-snapped values — identical cross-engine.

    Scale honesty: pairwise slopes are O(|days|²) — but |days| is
    calendar-bounded (7 years ≈ 2.4k days ⇒ ≈3M pairs over the
    ROLLUP, invariant in corpus size), so the quadratic never touches
    row-scale data. For per-segment trends, the same plan partitions
    by key; for long series, Theil-Sen estimators switch to the
    randomized-pair or median-of-medians variants.
    """
    daily = _daily_revenue(spark, sf_dir)
    base = daily.groupBy().agg(F.min("day").alias("day0"))
    idx = daily.crossJoin(F.broadcast(base)).select(
        F.datediff("day", "day0").alias("d"), "revenue"
    )
    a = idx.select(F.col("d").alias("d1"), F.col("revenue").alias("r1"))
    b = idx.select(F.col("d").alias("d2"), F.col("revenue").alias("r2"))
    slopes = (
        a.join(b, F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            # try_divide: the join condition guarantees d2 > d1, but
            # under ANSI mode a plan that evaluates the projection
            # before/inside the join filter would throw on a d1 == d2
            # pair — try_divide makes the expression order-insensitive
            # (null on the rows the filter drops anyway)
            F.try_divide(
                F.col("r2") - F.col("r1"), F.col("d2") - F.col("d1")
            ).alias("slope"),
        )
    )
    # Selection plan notes (this was once the bench's slowest query,
    # so the shape is deliberate):
    # - The selection carries BARE DOUBLES: rows tied on slope have
    #   the same VALUE, and only the value is emitted — so no
    #   tie-break columns ride the scan (the oracle keeps its (slope,
    #   d1, d2) tie-break, which selects the same value).
    # - The median is a DISTRIBUTED order statistic: bucket-
    #   partitioned zipWithIndex (operators/distributed_rank.py,
    #   floor(slope) monotone bucket) instead of a single-partition
    #   row_number sort — no task ever holds the whole pair frame,
    #   which is what makes the O(|days|²) pair count safe even on a
    #   decade-long calendar.
    # - n rides along from the position helper's per-bucket rollup
    #   (n_col) — never a count() over an empty window, which forced
    #   a SECOND whole-series single-partition pass.
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    # slopes stay LAZY: re-deriving the broadcast pair join for the
    # helper's second read is cheaper than materializing ~3M rows
    # (measured: an eager checkpoint here cost 2× the recompute).
    # Round 9: the bucket-pruned selection helper
    # (select_global_ranks) was A/B-tested here and REJECTED — the
    # ~24 MB skinny pair frame sorts faster than the helper's extra
    # broadcast stages cost (interleaved: 3.8 s old vs 4.4 s pruned),
    # unlike the selection callers whose inputs are cheap to re-derive.
    ranked = with_global_position(
        slopes.select("slope"), ["slope"], F.floor(F.col("slope")), n_col="n"
    )
    return ranked.filter(
        F.col("pos") == F.floor((F.col("n") + 1) / 2) - 1
    ).select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("slope").alias("slope_per_day"),
    )


# --- Zipf exponent ---------------------------------------------------------

ZIPF_TOP = 500  # fit over the top-N vocabulary ranks


_ZIPF_ORACLE = f"""
WITH words AS (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents WHERE trim(text) <> ''
),
freq AS (
    SELECT word, count(*) AS cnt FROM words GROUP BY word
),
ranked AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk
    FROM freq
    ORDER BY cnt DESC, word
    LIMIT {ZIPF_TOP}
),
pts AS (SELECT ln(rk) AS x, ln(cnt) AS y FROM ranked),
m AS (
    SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(x))),
                    (a, b) -> a + b) / count(*) AS mx,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(y))),
                    (a, b) -> a + b) / count(*) AS my,
        CAST(count(*) AS BIGINT) AS n
    FROM pts
)
SELECT n AS n_words,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                list_sort(list((x - mx) * (y - my)))),
                   (a, b) -> a + b)
       /
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                list_sort(list((x - mx) * (x - mx)))),
                   (a, b) -> a + b)                        AS zipf_slope
FROM pts CROSS JOIN m
GROUP BY n, mx, my
"""


@register(
    "q_zipf_exponent",
    oracle=_ZIPF_ORACLE,
    tags=("text", "vocabulary", "quality"),
)
def q_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus word-frequency curve: the
    least-squares slope of ln(freq) on ln(rank) over the top-N
    vocabulary. Natural corpora sit near -1; a flat slope flags
    templated/synthetic text, a cliff flags boilerplate domination —
    a one-number corpus-health signal for acquisition triage
    (complements q_text_repetition and q_unigram_surprisal).

    Same whitespace tokenizer as q_word_frequency_topk; the rank cut
    is deterministic under ties (cnt DESC, word). The regression
    moments fold with det_sum (sorted order, identical on both
    engines), over exactly ZIPF_TOP points — the post-vocab stage
    costs O(N), and the vocab aggregate is the same bounded
    (word, partial_count) shuffle as every wordcount query.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.trim(F.col("text")).alias("t"))
        .filter(F.col("t") != "")
        .select(F.explode(F.split("t", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = (
        freq.orderBy(F.desc("cnt"), "word")
        .limit(ZIPF_TOP)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "word"))
            .alias("rk"),
            "cnt",
        )
    )
    pts = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    m = pts.groupBy().agg(
        (det_sum("x") / F.count(F.lit(1))).alias("mx"),
        (det_sum("y") / F.count(F.lit(1))).alias("my"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        pts.crossJoin(F.broadcast(m))
        .groupBy("n", "mx", "my")
        .agg(
            (
                det_sum("(x - mx) * (y - my)") / det_sum("(x - mx) * (x - mx)")
            ).alias("zipf_slope")
        )
        .select(F.col("n").alias("n_words"), "zipf_slope")
    )


# --- session bounce rate ---------------------------------------------------

_BOUNCE_ORACLE = f"""
WITH {_PER_SESSION_CTE}
SELECT date_trunc('day', s)                                       AS day,
       CAST(count(*) AS BIGINT)                                   AS n_sessions,
       CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT)       AS n_bounces,
       CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE)
           / count(*)                                             AS bounce_rate
FROM per_session
GROUP BY date_trunc('day', s)
"""


@register(
    "q_session_bounce_rate",
    oracle=_BOUNCE_ORACLE,
    tags=("events", "session", "agg"),
)
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: fraction of sessions (same 30-min gap rule)
    containing exactly one event — the engagement-quality headline
    every product dashboard carries.

    Integer counts with one final division per day; the session pass
    shares the sessionization shuffle shape (user_id window → per-
    session aggregate via _session_intervals), and the daily rollup is
    |days| rows.
    """
    per_session = _session_intervals(spark, sf_dir)
    day = F.date_trunc("day", F.col("s")).alias("day")
    return per_session.groupBy(day).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count_if(F.col("n_events") == 1).cast("long").alias("n_bounces"),
        (
            F.count_if(F.col("n_events") == 1).cast("double")
            / F.count(F.lit(1))
        ).alias("bounce_rate"),
    )


# --- seasonal-adjusted anomalies -------------------------------------------

ANOMALY_TOPK = 10


@register(
    "q_seasonal_adjusted_anomalies",
    oracle=f"""
    WITH decomp AS ({_SEASONAL_ORACLE})
    SELECT day, revenue, residual
    FROM decomp
    ORDER BY abs(residual) DESC, day
    LIMIT {ANOMALY_TOPK}
    """,
    tags=("timeseries", "anomaly", "composition"),
)
def q_seasonal_adjusted_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{ANOMALY_TOPK} days by |seasonal-adjusted residual|: the
    anomaly read AFTER trend and day-of-week effects are removed —
    q_revenue_anomaly_days flags raw spikes, which on a weekly-
    patterned series mostly flags Sundays; this flags days that are
    odd FOR their weekday and trend position.

    Pure composition: the decomposition query's own plan (oracle
    embeds _SEASONAL_ORACLE verbatim — the two cannot drift) ranked by
    |residual| with a day tie-break, cut by TakeOrderedAndProject.
    Residuals are bit-identical from the parent query, so the top-k
    set is exact.
    """
    decomp = q_seasonal_decompose_revenue(spark, sf_dir)
    return (
        decomp.select("day", "revenue", "residual")
        .orderBy(F.abs(F.col("residual")).desc(), F.col("day"))
        .limit(ANOMALY_TOPK)
    )


# --- price-volume-mix revenue bridge -----------------------------------------

PVM_Y1, PVM_Y2 = 1996, 1997  # compared periods (both fully covered)

#: per-part unit values from exact cent/quantity sums, and the
#: Laspeyres-convention effects — ONE shared text each. Unit value
#: uv = revenue / qty; price effect prices the NEW volume at the price
#: CHANGE, volume effect prices the volume change at OLD prices.
_PVM_UV = "(CAST({r} AS DOUBLE) / CAST(100.0 AS DOUBLE)) / {q}"
_PVM_PRICE = f"({_PVM_UV.format(r='r2', q='q2')} - {_PVM_UV.format(r='r1', q='q1')}) * q2"
_PVM_VOLUME = f"(q2 - q1) * {_PVM_UV.format(r='r1', q='q1')}"

_PVM_ORACLE = f"""
WITH li AS (
    SELECT l.l_partkey AS pk, p.p_brand AS brand,
           year(l.l_shipdate) AS y,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS r_cents,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE year(l.l_shipdate) IN ({PVM_Y1}, {PVM_Y2})
    GROUP BY 1, 2, 3
),
w AS (
    SELECT COALESCE(a.pk, b.pk) AS pk, COALESCE(a.brand, b.brand) AS brand,
           COALESCE(a.r_cents, 0) AS r1, COALESCE(a.q, 0) AS q1,
           COALESCE(b.r_cents, 0) AS r2, COALESCE(b.q, 0) AS q2
    FROM (SELECT * FROM li WHERE y = {PVM_Y1}) a
    FULL OUTER JOIN (SELECT * FROM li WHERE y = {PVM_Y2}) b
      ON a.pk = b.pk
),
eff AS (
    SELECT brand,
           r1, r2,
           CASE WHEN q1 > 0 AND q2 > 0 THEN {_PVM_PRICE}
                ELSE CAST(0.0 AS DOUBLE) END AS price_eff,
           CASE WHEN q1 > 0 AND q2 > 0 THEN {_PVM_VOLUME}
                ELSE CAST(0.0 AS DOUBLE) END AS vol_eff
    FROM w
)
SELECT brand,
       CAST(sum(r1) AS DOUBLE) / 100.0 AS revenue_y1,
       CAST(sum(r2) AS DOUBLE) / 100.0 AS revenue_y2,
       {{fold_p}} AS price_effect,
       {{fold_v}} AS volume_effect,
       (CAST(sum(r2) AS DOUBLE) / 100.0 - CAST(sum(r1) AS DOUBLE) / 100.0)
         - ({{fold_p}}) - ({{fold_v}}) AS mix_and_churn_effect
FROM eff GROUP BY brand
""".format(
    fold_p="list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_sort(list(price_eff))), (a, b) -> a + b)",
    fold_v="list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_sort(list(vol_eff))), (a, b) -> a + b)",
)


@register(
    "q_pvm_revenue_bridge",
    oracle=_PVM_ORACLE,
    tags=("analytics", "pvm", "bridge", "finance"),
)
def q_pvm_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge between {PVM_Y1} and {PVM_Y2}
    per brand — the FP&A decomposition behind every "why did revenue
    move?" review, and the decomposition sibling of the catalog's
    Laspeyres index: for parts sold in BOTH years, the price effect
    ((uv₂−uv₁)·q₂) and volume effect ((q₂−q₁)·uv₁) from per-part unit
    values; everything else (mix shifts into new parts, churn of
    discontinued ones) lands in the explicitly-named residual, so the
    three effects sum EXACTLY to the revenue delta — a bridge that
    doesn't reconcile is an error, not a rounding note. Unit values
    are one division of exact cent/quantity sums; per-brand effect
    sums are det-ordered folds.

    100 TB: one partial-agg pass to the (part, year) grain (bounded
    by catalog size), a part-keyed full outer join, then brand
    rollups."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.expr(f"year(l_shipdate) IN ({PVM_Y1}, {PVM_Y2})"))
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "part").select(
                    "p_partkey", "p_brand"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.col("p_brand").alias("brand"),
            F.expr("year(l_shipdate)").alias("y"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("r_cents"),
            F.expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)").alias(
                "q"
            ),
        )
    )
    a = li.filter(F.col("y") == PVM_Y1).select(
        "pk", "brand", F.col("r_cents").alias("r1"), F.col("q").alias("q1")
    )
    b = li.filter(F.col("y") == PVM_Y2).select(
        F.col("pk").alias("pk2"),
        F.col("brand").alias("brand2"),
        F.col("r_cents").alias("r2"),
        F.col("q").alias("q2"),
    )
    w = (
        a.join(b, a.pk == b.pk2, "full_outer")
        .select(
            F.coalesce(F.col("brand"), F.col("brand2")).alias("brand"),
            F.coalesce(F.col("r1"), F.lit(0)).alias("r1"),
            F.coalesce(F.col("q1"), F.lit(0)).alias("q1"),
            F.coalesce(F.col("r2"), F.lit(0)).alias("r2"),
            F.coalesce(F.col("q2"), F.lit(0)).alias("q2"),
        )
    )
    eff = w.select(
        "brand",
        "r1",
        "r2",
        F.expr(
            f"CASE WHEN q1 > 0 AND q2 > 0 THEN {_PVM_PRICE}"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("price_eff"),
        F.expr(
            f"CASE WHEN q1 > 0 AND q2 > 0 THEN {_PVM_VOLUME}"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("vol_eff"),
    )
    return eff.groupBy("brand").agg(
        F.expr("CAST(sum(r1) AS DOUBLE) / 100.0").alias("revenue_y1"),
        F.expr("CAST(sum(r2) AS DOUBLE) / 100.0").alias("revenue_y2"),
        det_sum("price_eff").alias("price_effect"),
        det_sum("vol_eff").alias("volume_effect"),
    ).selectExpr(
        "brand",
        "revenue_y1",
        "revenue_y2",
        "price_effect",
        "volume_effect",
        "(revenue_y2 - revenue_y1) - price_effect - volume_effect"
        " AS mix_and_churn_effect",
    )
