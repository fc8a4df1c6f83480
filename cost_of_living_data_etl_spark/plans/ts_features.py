"""Time-series strength features over the seasonal decomposition.

Hyndman's STL-feature pair (`feasts`/tsfeatures `trend_strength` /
`seasonal_strength`): F_T = max(0, 1 − Var(R)/Var(T+R)) and
F_S = max(0, 1 − Var(R)/Var(S+R)) over an additive decomposition
y = T + S + R — the [0, 1] summary that turns "look at the
decomposition plot" into a routable scalar (forecast-model selection,
anomaly-detector gating, which series deserve a seasonal model at
all). Computed directly on the catalog's decomposition
(`q_seasonal_decompose_revenue` — same trend window, same det-summed
day-of-week seasonal), so the feature and the plot can never disagree.

Parity: the three component series are bit-identical across engines
by the decomposition's own contract; each variance is
(Σx² − (Σx)²/n)/n with BOTH folds det_sum-ordered and the final
ratio/clamp one shared text — identical inputs, identical ops. The
cancellation in the moment form costs common precision, not parity
(both engines lose the SAME digits).

100 TB: the decomposition is calendar-bounded after its daily rollup;
this adds one ≤|days|-row aggregate on top — constant cost at any
corpus size.

`q_rolling_zscore_anomaly_days` flags days whose revenue sits at
least ``Z_CUT`` standard deviations from the mean of the prior
``ROLL_WIN`` days.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.analytics_extra import (
    _SEASONAL_ORACLE,
    q_seasonal_decompose_revenue,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table

#: shared texts: population variance from det-summed moments, and the
#: clamped strength ratio (variance-0 guard ⇒ strength 0: a flat
#: component carries no structure to be strong about)
_VAR_EXPR = "(sq_{s} - tot_{s} * tot_{s} / n) / n"
_STRENGTH_EXPR = (
    "CASE WHEN var_{d} > 0 THEN greatest(CAST(0.0 AS DOUBLE),"
    " CAST(1.0 AS DOUBLE) - var_r / var_{d}) ELSE CAST(0.0 AS DOUBLE) END"
)

#: the three component series of the strength formulas
_SERIES = {
    "r": "residual",                # remainder
    "dz": "trend + residual",       # deseasonalized  (y − S)
    "dt": "seasonal + residual",    # detrended       (y − T)
}

_TS_STRENGTH_ORACLE = (
    f"""
WITH decomp AS ({_SEASONAL_ORACLE}),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
"""
    + ",\n".join(
        f"           {_DSUM_SQL.format(x=expr)} AS tot_{s},\n"
        f"           {_DSUM_SQL.format(x=f'({expr}) * ({expr})')} AS sq_{s}"
        for s, expr in _SERIES.items()
    )
    + f"""
    FROM decomp
),
v AS (
    SELECT n,
           {_VAR_EXPR.format(s="r")} AS var_r,
           {_VAR_EXPR.format(s="dz")} AS var_dz,
           {_VAR_EXPR.format(s="dt")} AS var_dt
    FROM m
)
SELECT n AS n_days,
       {_STRENGTH_EXPR.format(d="dz")} AS trend_strength,
       {_STRENGTH_EXPR.format(d="dt")} AS seasonal_strength,
       var_r AS var_residual
FROM v
"""
)


def ts_strength(decomp: DataFrame) -> DataFrame:
    """Strength features from any (trend, seasonal, residual)
    decomposition frame — factored so constructed decompositions can
    pin the closed-form cases (pure trend ⇒ F_T = 1, pure seasonality
    ⇒ F_S = 1, pure noise ⇒ both 0)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for s, expr in _SERIES.items():
        aggs.append(det_sum(expr).alias(f"tot_{s}"))
        aggs.append(det_sum(f"({expr}) * ({expr})").alias(f"sq_{s}"))
    m = decomp.groupBy().agg(*aggs)
    v = m.selectExpr(
        "n",
        f"{_VAR_EXPR.format(s='r')} AS var_r",
        f"{_VAR_EXPR.format(s='dz')} AS var_dz",
        f"{_VAR_EXPR.format(s='dt')} AS var_dt",
    )
    return v.selectExpr(
        "n AS n_days",
        f"{_STRENGTH_EXPR.format(d='dz')} AS trend_strength",
        f"{_STRENGTH_EXPR.format(d='dt')} AS seasonal_strength",
        "var_r AS var_residual",
    )


@register(
    "q_ts_strength_revenue",
    oracle=_TS_STRENGTH_ORACLE,
    tags=("timeseries", "features", "seasonality", "diagnostics"),
)
def q_ts_strength_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal strength of daily revenue (Hyndman STL
    features, in [0, 1]) computed on the catalog's own additive
    decomposition — the scalar answer to "does this series need a
    seasonal model, and how much of it is trend vs noise?". See the
    module docstring for formulas and the parity contract."""
    return ts_strength(q_seasonal_decompose_revenue(spark, sf_dir))


# --------------------------------------------------------------------------
# rolling z-score anomaly days on daily revenue
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
