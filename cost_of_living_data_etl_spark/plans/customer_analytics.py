"""Customer & embedding-space analytics: RFM segmentation, cohort
lifetime-value curves, inter-session return time, and embedding
class-separation health.

The customer-360 passes a warehouse team runs over the fact tables the
reference loads (app.py:195-197), plus the embedding-space diagnostic
a curation team runs before trusting labels for hard-negative mining
or stratified sampling. Same float discipline as the rest of the
catalog: integers as long as possible, money snapped to the 2-decimal
grid, unordered double sums via the sorted-fold ``det_sum``, cosines
via the shared left fold.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.analytics_extra import (
    _PER_SESSION_CTE,
    _session_intervals,
)
from cost_of_living_data_etl_spark.sources.tables import load_table

RFM_BUCKETS = 4  # quartile codes


# --- RFM segmentation ------------------------------------------------------

_RFM_ORACLE = f"""
WITH per_cust AS (
    SELECT o_custkey,
           datediff('day', max(o_orderdate),
                    (SELECT max(o_orderdate) FROM orders)) AS recency_days,
           count(*)                                        AS frequency,
           round(sum(o_totalprice), 2)                     AS monetary
    FROM orders GROUP BY o_custkey
),
coded AS (
    SELECT o_custkey, monetary,
           ntile({RFM_BUCKETS}) OVER (ORDER BY recency_days, o_custkey) AS r,
           ntile({RFM_BUCKETS}) OVER (ORDER BY frequency DESC, o_custkey) AS f,
           ntile({RFM_BUCKETS}) OVER (ORDER BY monetary DESC, o_custkey) AS m
    FROM per_cust
)
SELECT CAST(r AS INT) AS r_quartile,
       CAST(f AS INT) AS f_quartile,
       CAST(m AS INT) AS m_quartile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(monetary), 2)  AS total_monetary
FROM coded
GROUP BY r, f, m
"""


@register(
    "q_rfm_segments",
    oracle=_RFM_ORACLE,
    tags=("customer", "segmentation", "window"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile-code each customer on
    Recency (days since last order, vs the corpus max date — injectable
    clock discipline, no wall clock), Frequency (order count), and
    Monetary (lifetime spend), then profile the up-to-4³ segments.
    The classic marketing-segmentation table (1=best quartile per dim).

    Determinism: every ntile orders by (metric, custkey) — a TOTAL
    order, so bucket boundaries cannot wobble under ties; both engines
    implement SQL-standard ntile (first n mod k buckets take the extra
    row). Monetary is money-grid snapped before summing and the
    segment sum re-snaps, absorbing partial-agg ulp drift.

    Scale: per-customer rollup is one shuffle; the three quartile
    codes are EXACT distributed ntiles (bucket-partitioned
    zipWithIndex + closed-form tile math,
    operators/distributed_rank.py — recency buckets by day, frequency
    and monetary by their negated values for the DESC orders), so no
    single task ever sorts the |customers| frame; the segment profile
    is ≤64 rows. Round 8: the three codes share ONE melted pass
    (with_global_ntiles — one rollup, one spec-grouped carry, one
    partitioned window for all three orderings) instead of three
    sequential ntile pipelines; same BIGINT math, same driver hash.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_ntiles,
    )
    from cost_of_living_data_etl_spark.functions.checkpoints import (
        eager_checkpoint,
    )

    orders = load_table(spark, sf_dir, "orders")
    max_date = orders.groupBy().agg(F.max("o_orderdate").alias("dmax"))
    per_cust = (
        orders.crossJoin(F.broadcast(max_date))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("dmax"), F.max("o_orderdate")).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        # the slim per-customer rollup feeds three ntile passes (each
        # reads it twice: bucket rollup + position join) — materialize
        # once so the orders aggregate never recomputes
        .transform(eager_checkpoint)
    )
    # sort keys are ASCENDING expressions (negate for the DESC orders);
    # position-0 keys coerce int/long/double → double, exact here
    # (days ≤ 10^4, counts ≤ 10^5, money grid ≤ 10^7·100 ≪ 2^53);
    # position-1 is the all-long custkey tiebreak, no coercion
    coded = with_global_ntiles(
        per_cust,
        RFM_BUCKETS,
        [
            (
                ["recency_days", "o_custkey"],
                F.col("recency_days"),
                "r_quartile",
            ),
            (
                [-F.col("frequency"), F.col("o_custkey")],
                -F.col("frequency"),
                "f_quartile",
            ),
            (
                [-F.col("monetary"), F.col("o_custkey")],
                F.floor(-F.col("monetary")),
                "m_quartile",
            ),
        ],
        ["o_custkey"],
    ).select("monetary", "r_quartile", "f_quartile", "m_quartile")
    return coded.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("total_monetary"),
    )


# --- cohort lifetime-value curves ------------------------------------------

_LTV_ORACLE = """
WITH first_order AS (
    SELECT o_custkey,
           min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
    FROM orders GROUP BY o_custkey
),
aged AS (
    SELECT f.cohort_m,
           (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
               AS age_months,
           o.o_custkey, o.o_totalprice
    FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
),
cell AS (
    SELECT cohort_m, age_months,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
           round(sum(o_totalprice), 2)               AS revenue
    FROM aged GROUP BY cohort_m, age_months
)
SELECT CAST((cohort_m - 1) // 12 AS INT)    AS cohort_year,
       CAST((cohort_m - 1) % 12 + 1 AS INT) AS cohort_month,
       CAST(age_months AS INT)          AS age_months,
       n_active, revenue,
       round(sum(revenue) OVER (
           PARTITION BY cohort_m ORDER BY age_months
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS cum_revenue
FROM cell
"""


@register(
    "q_cohort_ltv",
    oracle=_LTV_ORACLE,
    tags=("customer", "cohort", "window"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by months-since-acquisition — the
    (cohort × age) LTV triangle behind payback-period decisions.
    Extends q_events_retention (activity retention) to revenue.

    Month arithmetic is pure integers (year*12+month), identical on
    both engines — no months_between floats. Cell revenue snaps to the
    money grid and the cumulative re-snaps, so the running window's
    association order cannot surface in the hash.

    Scale: first-order table is one |customers| rollup (broadcast-
    joined back), cells are |cohorts|x|ages| (calendar-bounded), and
    the cumulative window partitions by cohort over those tiny rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    om = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("om")
    first_order = (
        orders.select("o_custkey", om)
        .groupBy("o_custkey")
        .agg(F.min("om").alias("cohort_m"))
    )
    aged = orders.select("o_custkey", "o_totalprice", om).join(
        first_order, "o_custkey"
    )
    cell = aged.groupBy(
        "cohort_m", (F.col("om") - F.col("cohort_m")).alias("age_months")
    ).agg(
        F.count_distinct("o_custkey").cast("long").alias("n_active"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    cum = Window.partitionBy("cohort_m").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # decode year*12+month: month 12 encodes to m ≡ 0 (mod 12), so the
    # naive m//12, m%12+1 would label December cohorts as January of
    # the NEXT year — subtract 1 first
    return cell.select(
        F.floor((F.col("cohort_m") - 1) / 12).cast("int").alias("cohort_year"),
        ((F.col("cohort_m") - 1) % 12 + 1).cast("int").alias("cohort_month"),
        F.col("age_months").cast("int").alias("age_months"),
        "n_active",
        "revenue",
        F.round(F.sum("revenue").over(cum), 2).alias("cum_revenue"),
    )


# --- inter-session return time ---------------------------------------------

_RETURN_ORACLE = f"""
WITH {_PER_SESSION_CTE},
gaps AS (
    SELECT user_id,
           datediff('day',
                    lag(s) OVER (PARTITION BY user_id
                                 ORDER BY s, session_seq),
                    s) AS gap_days
    FROM per_session
)
SELECT CAST(gap_days AS INT)    AS gap_days,
       CAST(count(*) AS BIGINT) AS n_returns
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY gap_days
"""


@register(
    "q_session_return_time",
    oracle=_RETURN_ORACLE,
    tags=("events", "session", "engagement"),
)
def q_session_return_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-time histogram: calendar-day gaps between a user's
    consecutive session STARTS (shared 30-min gap rule), counted per
    gap width — the habit-formation curve (dense near 0-1 days =
    sticky; long tail = churn risk). Complements q_session_bounce_rate
    (within-session engagement) with BETWEEN-session engagement.

    All-integer: datediff of day-truncations, then a histogram over
    |distinct gap widths| rows. The lag window rides the same user_id
    partitioning the session build already created.
    """
    per_session = _session_intervals(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("s", "session_seq")
    gaps = per_session.select(
        F.datediff(F.col("s"), F.lag("s").over(w)).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy(F.col("gap_days").cast("int").alias("gap_days")).agg(
        F.count(F.lit(1)).cast("long").alias("n_returns")
    )


# --- embedding class-separation health -------------------------------------

_SEPARATION_ORACLE = """
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings
),
dims AS (
    SELECT e.label, d.i AS dim, d.v
    FROM e, LATERAL (
        SELECT generate_subscripts(e.emb, 1) AS i, unnest(e.emb) AS v
    ) d
),
own_cent AS (
    SELECT label, dim,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(v))),
                       (a, b) -> a + b) / count(*) AS c
    FROM dims GROUP BY label, dim
),
glob_cent AS (
    SELECT dim,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(v))),
                       (a, b) -> a + b) / count(*) AS c
    FROM dims GROUP BY dim
),
own_vec AS (
    SELECT label, list(c ORDER BY dim) AS cvec FROM own_cent GROUP BY label
),
glob_vec AS (SELECT list(c ORDER BY dim) AS gvec FROM glob_cent),
scored AS (
    SELECT e.label,
           list_inner_product(e.emb, o.cvec)
               / (e.norm * sqrt(list_inner_product(o.cvec, o.cvec))) AS cos_own,
           list_inner_product(e.emb, g.gvec)
               / (e.norm * sqrt(list_inner_product(g.gvec, g.gvec))) AS cos_glob
    FROM e JOIN own_vec o ON e.label = o.label CROSS JOIN glob_vec g
)
SELECT CAST(label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(cos_own))),
                   (a, b) -> a + b) / count(*) AS mean_cos_own,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(cos_glob))),
                   (a, b) -> a + b) / count(*) AS mean_cos_global,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(cos_own))),
                   (a, b) -> a + b) / count(*)
       - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(cos_glob))),
                     (a, b) -> a + b) / count(*) AS separation
FROM scored
GROUP BY label
"""


@register(
    "q_embed_class_separation",
    oracle=_SEPARATION_ORACLE,
    tags=("similarity", "embedding", "quality"),
)
def q_embed_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label health: per label, the mean cosine of its
    vectors to their OWN class centroid vs to the GLOBAL centroid;
    separation = difference. Labels whose separation ≈ 0 are not
    clusterable in this embedding space — the go/no-go check before
    trusting labels for hard-negative mining, stratified sampling, or
    classifier training (a centroid-based stand-in for silhouette that
    needs NO pairwise pass).

    Determinism: centroids are per-dimension sorted-fold means
    (posexplode → det_sum — the q_embedding_dim_stats discipline),
    assembled back into ordered arrays; cosines use the shared fold;
    the per-label means fold sorted again. Bit-identical end to end.

    Scale: centroids cost one (label × dims) aggregate; the scoring
    pass is map-only against the broadcast (|labels|+1) centroid
    arrays; nothing pairwise anywhere.
    """
    from cost_of_living_data_etl_spark.operators.similarity import (
        dot_expr,
        with_norm,
    )

    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    dims = e.select(
        "label", F.posexplode("embedding").alias("dim0", "v0")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    own_cent = (
        dims.groupBy("label", "dim")
        .agg((det_sum("v") / F.count(F.lit(1))).alias("c"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
            ).alias("cvec")
        )
    )
    glob_cent = (
        dims.groupBy("dim")
        .agg((det_sum("v") / F.count(F.lit(1))).alias("c"))
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
            ).alias("gvec")
        )
    )
    scored = (
        e.join(F.broadcast(own_cent), "label")
        .crossJoin(F.broadcast(glob_cent))
        .select(
            "label",
            (
                dot_expr("embedding", "cvec")
                / (F.col("norm") * F.sqrt(dot_expr("cvec", "cvec")))
            ).alias("cos_own"),
            (
                dot_expr("embedding", "gvec")
                / (F.col("norm") * F.sqrt(dot_expr("gvec", "gvec")))
            ).alias("cos_glob"),
        )
    )
    return scored.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (det_sum("cos_own") / F.count(F.lit(1))).alias("mean_cos_own"),
        (det_sum("cos_glob") / F.count(F.lit(1))).alias("mean_cos_global"),
        (
            det_sum("cos_own") / F.count(F.lit(1))
            - det_sum("cos_glob") / F.count(F.lit(1))
        ).alias("separation"),
    )
