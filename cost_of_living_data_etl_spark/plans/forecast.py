"""Forecasting and index numbers: Holt linear smoothing with a
walk-forward backtest, and a Laspeyres price index.

The forecasting gap after the descriptive time-series family: EWMA
(`q_ewma_revenue_by_status`) tracks a LEVEL; Holt's method adds a
TREND state, which is the difference between "what is revenue now"
and "where is revenue going" — with the one-step-ahead backtest MAE
carried in the same fold, so the forecast ships with its own honesty
number. The Laspeyres index is the economics-standard answer to "how
much did prices move" that a raw revenue series confounds with volume
(base-period quantities freeze the basket).

Float discipline: the Holt recurrence is ONE shared lambda folding a
day-ordered array with a 4-slot double state [level, trend, idx,
abs_err_sum] — identical operations in identical order on both
engines (the CUSUM/KM fold convention); Laspeyres per-part terms are
(int base-qty) × (exact-int ratio unit price), summed with the
sorted-fold det_sum.

`q_ewma_daily_revenue` is the truncated-lag EWMA of daily revenue:
``EWMA_LAGS`` explicit weights, so its weight mass is the documented
truncation bound.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.analytics_extra import (
    _DAILY_CTE,
    _daily_revenue,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table

HOLT_A = "0.3"  # level smoothing (SQL literal, CAST AS DOUBLE at use)
HOLT_G = "0.1"  # trend smoothing
HOLT_H = 7  # forecast horizon (days)
HOLT_BT = 30  # backtest window (last N one-step-ahead errors)

# the Holt fold step — ONE generator rendered per engine's accessor
# syntax (Spark lambdas index state via element_at, DuckDB via [k];
# DuckDB's list_reduce has no init parameter, so its observations
# arrive wrapped as 4-arrays and y is yv[1]). CAST AS DOUBLE on the
# literals (the decimal-literal trap).


def _step(ix, y: str, head: str, arr: tuple[str, str]) -> str:
    """Fold-step text: ``ix(k)`` renders 1-based state slot k, ``y``
    the incoming observation, ``head`` the lambda parameter list,
    ``arr`` the engine's array-constructor delimiters (Spark
    ``array(...)``, DuckDB ``[...]``)."""
    a = f"CAST({HOLT_A} AS DOUBLE)"
    g = f"CAST({HOLT_G} AS DOUBLE)"
    l, b, idx, err = ix(1), ix(2), ix(3), ix(4)
    new_l = f"({a} * {y} + (1.0 - {a}) * ({l} + {b}))"
    return (
        f"{head} {arr[0]}"
        f"{new_l}, "
        f"{g} * ({new_l} - {l}) + (1.0 - {g}) * {b}, "
        f"{idx} + 1.0, "
        f"{err} + CASE WHEN {idx} > nd - {HOLT_BT}"
        f" THEN abs({y} - ({l} + {b})) ELSE 0.0 END{arr[1]}"
    )


_STEP_SPARK = _step(
    lambda k: f"element_at(st, {k})",
    y="y",
    head="(st, y) ->",
    arr=("array(", ")"),
)
_STEP_SQL = _step(
    lambda k: f"st[{k}]", y="yv[1]", head="(st, yv) ->", arr=("[", "]")
)

_HOLT_ORACLE = f"""
WITH {_DAILY_CTE},
series AS (
    SELECT list(revenue ORDER BY day) AS ys,
           CAST(count(*) AS DOUBLE) AS nd
    FROM daily
),
folded AS (
    SELECT nd,
           list_reduce(
               list_prepend(
                   [ys[1], ys[2] - ys[1], 2.0, 0.0],
                   list_transform(ys[2:], v -> [v, 0.0, 0.0, 0.0])),
               {_STEP_SQL}
           ) AS st
    FROM series
)
SELECT CAST(nd AS BIGINT) AS n_days,
       st[1] AS level, st[2] AS trend,
       st[1] + {HOLT_H} * st[2] AS forecast_{HOLT_H}d,
       st[4] / {HOLT_BT} AS mae_{HOLT_BT}d
FROM folded
"""


@register(
    "q_holt_linear_forecast",
    oracle=_HOLT_ORACLE,
    tags=("timeseries", "forecast", "fold"),
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double) exponential smoothing over daily
    revenue: level + trend states, the {HOLT_H}-day-ahead forecast,
    and the walk-forward one-step-ahead MAE over the last {HOLT_BT}
    days — the forecast AND its honesty number from ONE fold (each
    step scores the incoming day against the PRE-update state, which
    is exactly the forecast that would have shipped the night before;
    an in-sample residual would flatter it).

    Determinism: one day-ordered fold with a 4-slot double state
    [level, trend, idx, err_sum]; the step expression is one shared
    text rendered per engine's array indexing — identical IEEE
    operations in identical order (CUSUM/KM convention). Init:
    l₀ = y₁, b₀ = y₂ − y₁ (the standard two-point start).

    100 TB: the fold runs on the calendar-bounded daily rollup —
    partial-aggregated upstream, |days| values in one array on one
    executor. Per-segment variants fold per key.
    """
    daily = _daily_revenue(spark, sf_dir)
    series = daily.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, revenue))),"
            " s -> s.revenue)"
        ).alias("ys"),
        F.count(F.lit(1)).cast("double").alias("nd"),
    )
    folded = series.select(
        "nd",
        F.expr(
            f"aggregate(slice(ys, 2, CAST(nd AS INT) - 1),"
            f" array(element_at(ys, 1),"
            f" element_at(ys, 2) - element_at(ys, 1), 2.0D, 0.0D),"
            f" {_STEP_SPARK})"
        ).alias("st"),
    )
    return folded.select(
        F.col("nd").cast("long").alias("n_days"),
        F.expr("element_at(st, 1)").alias("level"),
        F.expr("element_at(st, 2)").alias("trend"),
        F.expr(f"element_at(st, 1) + {HOLT_H} * element_at(st, 2)").alias(
            f"forecast_{HOLT_H}d"
        ),
        F.expr(f"element_at(st, 4) / {HOLT_BT}").alias(f"mae_{HOLT_BT}d"),
    )


# --- Laspeyres price index ---------------------------------------------------

_LASP_DSUM = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list({x}))),"
    " (a, b) -> a + b)"
)

_LASP_ORACLE = f"""
WITH pp AS (
    SELECT date_trunc('month', l_shipdate) AS mon, l_partkey AS part,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
           sum(CAST(l_quantity AS BIGINT)) AS qty
    FROM lineitem GROUP BY 1, 2
),
base AS (
    SELECT part, cents AS cents0, qty AS qty0 FROM pp
    WHERE mon = (SELECT min(mon) FROM pp)
),
matched AS (
    SELECT p.mon, p.part,
           CAST(b.qty0 AS DOUBLE) * (CAST(p.cents AS DOUBLE) / p.qty)
             AS cur_term,
           CAST(b.qty0 AS DOUBLE) * (CAST(b.cents0 AS DOUBLE) / b.qty0)
             AS base_term
    FROM pp p JOIN base b ON p.part = b.part
),
idx AS (
    SELECT mon,
           {_LASP_DSUM.format(x="cur_term")} AS num,
           {_LASP_DSUM.format(x="base_term")} AS den
    FROM matched GROUP BY mon
)
SELECT mon AS month, num / den AS laspeyres_idx
FROM idx ORDER BY month
"""


@register(
    "q_laspeyres_price_index",
    oracle=_LASP_ORACLE,
    tags=("economics", "index", "timeseries"),
)
def q_laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly Laspeyres price index over the part basket: Σ q₀·pₜ /
    Σ q₀·p₀ with base-month quantities freezing the basket — pure
    price movement, which the raw revenue series confounds with
    volume shifts (the exact mix-shift error the reference's
    cost-of-living domain exists to avoid). Matched basket: only
    parts traded in the base month enter any month's index.

    Unit prices are exact-integer ratios (cent sums / unit sums) and
    the per-part terms fold in sorted order on both engines (det_sum
    discipline — base quantities weight FLOAT terms, so a plain sum
    would drift with partition order).

    100 TB: one partial-aggregated (month, part) rollup; the base
    basket broadcasts; index sums are per-month folds over |parts|.
    """
    pp = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate")).alias("mon"),
            F.col("l_partkey").alias("part"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
        # NOTE (round 9): an eager checkpoint of this rollup was
        # A/B-tested and REJECTED (1.82 s old vs 1.88 s new min,
        # interleaved) — ReuseExchange already dedups the rollup's
        # exchange across the three consuming branches, so the
        # materialization job only added cost.
    )
    base_mon = pp.groupBy().agg(F.min("mon").alias("m0"))
    base = (
        pp.crossJoin(F.broadcast(base_mon))
        .filter(F.col("mon") == F.col("m0"))
        .select(
            "part",
            F.col("cents").alias("cents0"),
            F.col("qty").alias("qty0"),
        )
    )
    matched = pp.join(base, "part").select(
        "mon",
        (
            F.col("qty0").cast("double")
            * (F.col("cents").cast("double") / F.col("qty"))
        ).alias("cur_term"),
        (
            F.col("qty0").cast("double")
            * (F.col("cents0").cast("double") / F.col("qty0"))
        ).alias("base_term"),
    )
    idx = matched.groupBy("mon").agg(
        det_sum("cur_term").alias("num"), det_sum("base_term").alias("den")
    )
    return idx.select(
        F.col("mon").alias("month"),
        (F.col("num") / F.col("den")).alias("laspeyres_idx"),
    ).orderBy("month")


# --- autocorrelation function (Box-Jenkins model identification) -----------

ACF_MAX_LAG = 14  # two weekly cycles — the seasonality the fixture carries

_ACF_DSUM = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list({x}))),"
    " (a, b) -> a + b)"
)

_ACF_ORACLE = f"""
WITH {_DAILY_CTE},
idx AS (
    SELECT row_number() OVER (ORDER BY day) AS t, revenue FROM daily
),
st AS (
    SELECT {_ACF_DSUM.format(x="revenue")} AS s,
           CAST(count(*) AS DOUBLE)        AS n
    FROM idx
),
m AS (SELECT s / n AS mean FROM st),
den AS (
    SELECT {_ACF_DSUM.format(x="(revenue - mean) * (revenue - mean)")} AS d
    FROM idx, m
),
num AS (
    SELECT lag,
           {_ACF_DSUM.format(x="p")}  AS s,
           CAST(count(*) AS BIGINT)   AS n_pairs
    FROM (
        SELECT b.t - a.t AS lag,
               (a.revenue - m.mean) * (b.revenue - m.mean) AS p
        FROM idx a
        JOIN idx b ON b.t > a.t AND b.t <= a.t + {ACF_MAX_LAG}
        CROSS JOIN m
    )
    GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       n_pairs,
       num.s / den.d       AS acf
FROM num, den
"""


@register(
    "q_acf_daily_revenue",
    oracle=_ACF_ORACLE,
    tags=("timeseries", "diagnostics", "acf"),
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at lags 1..{ACF_MAX_LAG}
    — the Box-Jenkins identification diagnostic: a spike at lag 7
    confirms the weekly cycle the seasonal-decompose/MASE queries
    assume, slow geometric decay says difference before fitting, and
    white noise clears the way for the mean model. r_k =
    Σ(x_t−x̄)(x_{{t+k}}−x̄) / Σ(x_t−x̄)² over the day-indexed series.

    Scale shape: like every series query here, the quadratic-ish work
    happens AFTER the corpus collapses to the calendar-bounded daily
    rollup (~2.4k rows for 7 years) — the lag self-join emits n·L
    pairs of that series, invariant in corpus size; corpus-scale cost
    is the one rollup aggregate.

    Float determinism: revenue is cents-snapped at the rollup (the
    shared _DAILY_CTE round), the mean and both quadratic sums are
    sorted-fold det_sums, and mean/den reach every term via a
    broadcast single-row frame — identical IEEE sequence on both
    engines.
    """
    from pyspark.sql import Window

    daily = _daily_revenue(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        "revenue",
    )
    st = idx.agg(
        det_sum("revenue").alias("s"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    m = st.select((F.col("s") / F.col("n")).alias("mean"))
    den = idx.crossJoin(F.broadcast(m)).agg(
        det_sum("(revenue - mean) * (revenue - mean)").alias("d")
    )
    a = idx.select(F.col("t").alias("ta"), F.col("revenue").alias("xa"))
    b = idx.select(F.col("t").alias("tb"), F.col("revenue").alias("xb"))
    pairs = (
        a.join(
            b,
            (F.col("tb") > F.col("ta"))
            & (F.col("tb") <= F.col("ta") + ACF_MAX_LAG),
        )
        .crossJoin(F.broadcast(m))
        .select(
            (F.col("tb") - F.col("ta")).alias("lag"),
            F.expr("(xa - mean) * (xb - mean)").alias("p"),
        )
    )
    return (
        pairs.groupBy("lag")
        .agg(det_sum("p").alias("s"), F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            (F.col("s") / F.col("d")).alias("acf"),
        )
    )


# --------------------------------------------------------------------------
# truncated EWMA of daily revenue (unrolled 10-lag kernel)
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
