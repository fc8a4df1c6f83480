"""Statistical testing & evaluation: A/B Welch t-test, seasonal-naive
forecast error (MASE), and Pearson correlation.

The inference layer over the same fact tables: an experimentation
readout (did the treatment move the metric?), a forecasting-baseline
scorecard (is any model beating seasonal-naive?), and the correlation
screen feature engineering starts from. All three reduce to moment
sums, so the catalog's sorted-fold ``det_sum`` discipline makes them
bit-identical across engines; splits reuse the md5-bucket determinism
of plans/reshape.py (no RNG state anywhere).

Robust statistics ride along: winsorized means
(`q_winsorized_price_by_brand`), Tukey IQR fences
(`q_iqr_outlier_fences`) and the log-log price-elasticity slope
(`q_price_elasticity_by_brand`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.analytics_extra import (
    _DAILY_CTE,
    _daily_revenue,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table

# md5-derived 2-arm assignment: the SHARED reshape.py bucket pair with
# parity on top (100 is even, so bucket%2 ≡ key-hash%2 — and reusing
# the one definition keeps every module's two-engine hash expression
# in lock-step)
from cost_of_living_data_etl_spark.plans.reshape import (  # noqa: E402
    _BUCKET_SPARK,
    _BUCKET_SQL,
)

_ARM_SPARK = f"({_BUCKET_SPARK}) % 2"
_ARM_SQL = f"({_BUCKET_SQL}) % 2"

T_CRIT = 1.96  # ~95% two-sided normal approximation

NAIVE_LAG = 7  # seasonal-naive horizon (one week of observed days)


# --- A/B Welch t-test ------------------------------------------------------

_WELCH_ORACLE = f"""
WITH assigned AS (
    SELECT event_type, value,
           {_ARM_SQL.format(k="user_id")} AS arm
    FROM events
),
m AS (
    SELECT event_type, arm,
           CAST(count(*) AS BIGINT) AS n,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value))),
                       (a, b) -> a + b) AS s,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value * value))),
                       (a, b) -> a + b) AS ssq
    FROM assigned GROUP BY event_type, arm
),
w AS (
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b,
           a.s / a.n AS mean_a, b.s / b.n AS mean_b,
           greatest(a.ssq - a.s * a.s / a.n, CAST(0.0 AS DOUBLE)) / (a.n - 1) AS var_a,
           greatest(b.ssq - b.s * b.s / b.n, CAST(0.0 AS DOUBLE)) / (b.n - 1) AS var_b
    FROM m a JOIN m b ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
)
SELECT event_type, n_a, n_b, mean_a, mean_b,
       (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
       abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)) > {T_CRIT}
           AS significant
FROM w
"""


@register(
    "q_ab_test_welch",
    oracle=_WELCH_ORACLE,
    tags=("statistics", "ab-test", "experimentation"),
)
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm A/B readout per event type: users split 50/50 by md5
    parity (the deterministic assignment q_train_val_test_split
    established — no RNG, replayable on any cluster), compared by
    Welch's unequal-variance t-statistic with a normal-approximation
    significance flag. The experimentation table every product
    analytics stack ships; on this un-treated fixture it demonstrates
    the null path (no arm should flag significant except by chance).

    Determinism: per-arm (n, Σv, Σv²) fold sorted (det_sum), the same
    cancellation clamp as q_embedding_dim_stats, and identical
    t-statistic arithmetic on both engines.

    Scale: one shuffle to |event_type × 2| moment rows — the t-test is
    O(groups) post-aggregate. (The sorted-fold is the oracle-replay
    variant; production uses plain partial-agg moments.)
    """
    events = load_table(spark, sf_dir, "events")
    assigned = events.select(
        "event_type",
        "value",
        F.expr(_ARM_SPARK.format(k="user_id")).alias("arm"),
    )
    m = assigned.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        det_sum("value").alias("s"),
        det_sum("value * value").alias("ssq"),
    )
    a = m.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        (F.col("s") / F.col("n")).alias("mean_a"),
        (
            F.greatest(
                F.col("ssq") - F.col("s") * F.col("s") / F.col("n"), F.lit(0.0)
            )
            / (F.col("n") - 1)
        ).alias("var_a"),
    )
    b = m.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        (F.col("s") / F.col("n")).alias("mean_b"),
        (
            F.greatest(
                F.col("ssq") - F.col("s") * F.col("s") / F.col("n"), F.lit(0.0)
            )
            / (F.col("n") - 1)
        ).alias("var_b"),
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        t.alias("t_stat"),
        (F.abs(t) > T_CRIT).alias("significant"),
    )


# --- seasonal-naive forecast error (MASE) ----------------------------------

_MASE_ORACLE = f"""
WITH {_DAILY_CTE},
lagged AS (
    SELECT day, revenue,
           lag(revenue, {NAIVE_LAG}) OVER (ORDER BY day) AS fcst7,
           lag(revenue, 1) OVER (ORDER BY day) AS fcst1
    FROM daily
),
err AS (
    SELECT CAST(year(day) AS INT) AS year,
           abs(revenue - fcst7) AS e7,
           abs(revenue - fcst1) AS e1
    FROM lagged WHERE fcst7 IS NOT NULL AND fcst1 IS NOT NULL
)
SELECT year,
       CAST(count(*) AS BIGINT) AS n_days,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(e7))),
                         (a, b) -> a + b) / count(*), 4) AS mae_naive7,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(e1))),
                         (a, b) -> a + b) / count(*), 4) AS mae_naive1,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(e7))),
                         (a, b) -> a + b)
             / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(e1))),
                           (a, b) -> a + b), 4) AS mase
FROM err
GROUP BY year
"""


@register(
    "q_seasonal_naive_mase",
    oracle=_MASE_ORACLE,
    tags=("timeseries", "forecast", "evaluation"),
)
def q_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-baseline scorecard per year: MAE of the
    seasonal-naive forecast (revenue = revenue 7 observed days ago)
    vs the one-step naive, and their ratio (MASE form: < 1 means the
    weekly pattern genuinely helps). The floor every real forecasting
    model must beat before it ships — and the honest denominator for
    reporting model skill.

    Lags ride ONE day-ordered window over the shared daily rollup
    (observed-day lags; densify first on gappy series). Absolute
    errors are exact differences of money-grid values; the per-year
    means fold sorted (det_sum) and snap to 4 decimals.

    Scale: |days| rollup → window → |years| rows. Per-segment
    scorecards partition the same window by key.
    """
    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "revenue",
        F.lag("revenue", NAIVE_LAG).over(w).alias("fcst7"),
        F.lag("revenue", 1).over(w).alias("fcst1"),
    ).filter(F.col("fcst7").isNotNull() & F.col("fcst1").isNotNull())
    err = lagged.select(
        F.year("day").cast("int").alias("year"),
        F.abs(F.col("revenue") - F.col("fcst7")).alias("e7"),
        F.abs(F.col("revenue") - F.col("fcst1")).alias("e1"),
    )
    return err.groupBy("year").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(det_sum("e7") / F.count(F.lit(1)), 4).alias("mae_naive7"),
        F.round(det_sum("e1") / F.count(F.lit(1)), 4).alias("mae_naive1"),
        F.round(det_sum("e7") / det_sum("e1"), 4).alias("mase"),
    )


# --- Pearson correlation screen --------------------------------------------

_CORR_ORACLE = """
WITH j AS (
    SELECT p.p_brand,
           CAST(l.l_quantity AS DOUBLE)    AS x,
           CAST(p.p_retailprice AS DOUBLE) AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(x))),
                       (a, b) -> a + b) AS sx,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(y))),
                       (a, b) -> a + b) AS sy,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(x * x))),
                       (a, b) -> a + b) AS sxx,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(y * y))),
                       (a, b) -> a + b) AS syy,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(x * y))),
                       (a, b) -> a + b) AS sxy
    FROM j GROUP BY p_brand
)
SELECT p_brand, n,
       CASE WHEN n < 2
              OR (n * sxx - sx * sx) <= 0
              OR (n * syy - sy * sy) <= 0
            THEN NULL
            ELSE round((n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS quantity_price_corr
FROM m
"""


@register(
    "q_price_quantity_corr",
    oracle=_CORR_ORACLE,
    tags=("statistics", "correlation", "join"),
)
def q_price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between order quantity and the part's
    retail price, per brand — the elasticity screen (consistently
    negative = price-sensitive demand) and the shape of the
    correlation-matrix pass feature selection starts from.

    r derives from the five classic moment sums, folded sorted
    (det_sum) so both engines produce identical doubles; degenerate
    groups (n < 2 or zero variance after the cancellation clamp)
    yield NULL under the same guard on both sides, and the result
    snaps to 6 decimals. The part side broadcasts; the moment
    aggregate is one shuffle bounded by |brands|.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    j = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(
        "p_brand",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("p_retailprice").cast("double").alias("y"),
    )
    m = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        det_sum("x").alias("sx"),
        det_sum("y").alias("sy"),
        det_sum("x * x").alias("sxx"),
        det_sum("y * y").alias("syy"),
        det_sum("x * y").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    corr = F.when(
        (n < 2) | (vx <= 0) | (vy <= 0), F.lit(None).cast("double")
    ).otherwise(F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), 6))
    return m.select("p_brand", "n", corr.alias("quantity_price_corr"))


# --- monthly percentile bands ----------------------------------------------

_BANDS_ORACLE = """
WITH ranked AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           o_totalprice,
           row_number() OVER (
               PARTITION BY date_trunc('month', o_orderdate)
               ORDER BY o_totalprice, o_orderkey
           ) AS rk,
           count(*) OVER (
               PARTITION BY date_trunc('month', o_orderdate)
           ) AS n
    FROM orders
)
SELECT month,
       CAST(n AS BIGINT) AS n_orders,
       max(CASE WHEN rk = CAST(ceil(0.10 * n) AS BIGINT)
                THEN o_totalprice END) AS p10,
       max(CASE WHEN rk = CAST(ceil(0.50 * n) AS BIGINT)
                THEN o_totalprice END) AS p50,
       max(CASE WHEN rk = CAST(ceil(0.90 * n) AS BIGINT)
                THEN o_totalprice END) AS p90
FROM ranked
GROUP BY month, n
"""


@register(
    "q_monthly_value_percentile_bands",
    oracle=_BANDS_ORACLE,
    tags=("orders", "percentiles", "window"),
)
def q_monthly_value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P50/P90 order-value bands per month — the control-chart
    band that spots mix drift (medians moving without means moving).
    Unlike q_percentiles_order_value's engine-native approximations,
    these are EXACT order statistics: rank r = ceil(p·n) under the
    total order (price, orderkey) — no interpolation, so both engines
    select the identical stored double and the hash gate is exact by
    construction.

    One rank window per month partition over that month's orders; the
    band pivot is a conditional max over three ranks. Output is
    |months| rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).alias("month")
    wr = Window.partitionBy(F.date_trunc("month", F.col("o_orderdate"))).orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy(F.date_trunc("month", F.col("o_orderdate")))
    ranked = orders.select(
        month,
        "o_totalprice",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def band(p: float):
        return F.max(
            F.when(
                F.col("rk") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("o_totalprice"),
            )
        )

    return ranked.groupBy("month", "n").agg(
        band(0.10).alias("p10"),
        band(0.50).alias("p50"),
        band(0.90).alias("p90"),
    ).select(
        "month",
        F.col("n").cast("long").alias("n_orders"),
        "p10",
        "p50",
        "p90",
    )


# --- Neyman sampling allocation --------------------------------------------

SAMPLE_BUDGET = 1000  # total sample size to allocate


_NEYMAN_ORACLE = f"""
WITH m AS (
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_h,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list_sort(list(c_acctbal))),
                       (a, b) -> a + b) AS s,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list_sort(list(c_acctbal * c_acctbal))),
                       (a, b) -> a + b) AS ssq
    FROM customer GROUP BY c_mktsegment
),
w AS (
    SELECT c_mktsegment, n_h,
           n_h * sqrt(greatest(ssq - s * s / n_h, CAST(0.0 AS DOUBLE))
                      / (n_h - 1)) AS weight
    FROM m
),
t AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list_sort(list(weight))),
                         (a, b) -> a + b) AS tot FROM w)
SELECT w.c_mktsegment,
       w.n_h                                    AS n_population,
       w.weight / t.tot                         AS alloc_share,
       CAST(floor({SAMPLE_BUDGET} * w.weight / t.tot) AS BIGINT)
           AS alloc_n
FROM w CROSS JOIN t
"""


@register(
    "q_neyman_allocation",
    oracle=_NEYMAN_ORACLE,
    tags=("statistics", "sampling", "design"),
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation across customer segments for a
    {SAMPLE_BUDGET}-unit budget: n_h ∝ N_h·S_h (stratum size × stratum
    std of account balance) — minimum-variance stratified sampling,
    the design step BEFORE q_stratified_sample_by_lang's execution
    step (which takes rates as given; this computes them).

    Per-stratum moments fold sorted (det_sum) with the standard
    cancellation clamp; the weight total folds sorted again; shares
    divide identical doubles and the integer allocation floors them.
    Everything after the one |customers|→|segments| aggregate is
    |segments|-row arithmetic.
    """
    cust = load_table(spark, sf_dir, "customer")
    m = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        det_sum("c_acctbal").alias("s"),
        det_sum("c_acctbal * c_acctbal").alias("ssq"),
    )
    w = m.select(
        "c_mktsegment",
        "n_h",
        (
            F.col("n_h")
            * F.sqrt(
                F.greatest(
                    F.col("ssq") - F.col("s") * F.col("s") / F.col("n_h"),
                    F.lit(0.0),
                )
                / (F.col("n_h") - 1)
            )
        ).alias("weight"),
    )
    tot = w.groupBy().agg(det_sum("weight").alias("tot"))
    return w.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        F.col("n_h").alias("n_population"),
        (F.col("weight") / F.col("tot")).alias("alloc_share"),
        F.floor(SAMPLE_BUDGET * F.col("weight") / F.col("tot"))
        .cast("long")
        .alias("alloc_n"),
    )


# --------------------------------------------------------------------------
# winsorized mean price per brand (exact rank-based 5/95 clamp)
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
# log-log price elasticity per brand (closed-form OLS)
# --------------------------------------------------------------------------

# nullif on the variance term: a brand whose kept lines all share one
# exact unit price has n*sxx - sx*sx == 0.0 EXACTLY (n > 1 does not
# exclude it) — ANSI Spark raises on /0 while DuckDB NULLs, so both
# engines emit a NULL slope for the no-price-variation brand instead
# of crash-vs-row divergence
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
# IQR outlier fences per market segment
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
