"""Statistical inference at corpus scale: time-weighted averages,
Poisson-bootstrap confidence intervals, and sequential testing.

Three passes the warehouse's analysts would run after the descriptive
families (`stats_analytics`, `analytics_extra`): TWAP turns a point-
event stream into a duration-weighted level; the Poisson bootstrap
puts an uncertainty interval on a mean WITHOUT resampling the data
into existence (the only scalable bootstrap); SPRT is the sequential
decision rule that says when an A/B readout may STOP — the
complement of `q_ab_test_welch`'s fixed-horizon test and
`q_cusum_changepoint_revenue`'s drift alarm.

Float discipline: holdings and weights are integral (micros, cents,
Poisson counts); products sum in DECIMAL(38,0) on the Spark side and
DuckDB's int128 on the oracle side — both exact — with ONE cast to
double at the end; randomness is md5-derived (the house convention:
reproducible everywhere, replayable in SQL); sequential LLR walks are
day-ordered prefix sums snapped to a fixed grid (the CUSUM pattern).

`q_james_stein_brand_price` adds empirical-Bayes shrinkage: per-brand
mean prices pulled toward the grand mean by the James-Stein factor.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table

# --- TWAP -------------------------------------------------------------------

_TWAP_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS ts_us,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
held AS (
    SELECT event_type, cents,
           lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
             - ts_us AS dur_us
    FROM e
)
SELECT event_type,
       CAST(sum(cents * dur_us) AS DOUBLE)
         / CAST(sum(dur_us) AS DOUBLE) / 100.0 AS twap,
       CAST(sum(dur_us) AS BIGINT) AS hold_us
FROM held WHERE dur_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@register(
    "q_twap_by_event_type",
    oracle=_TWAP_ORACLE,
    tags=("timeseries", "weighted", "window"),
)
def q_twap_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per event type: each event's
    value is HELD until the same user's next event, and the average
    weighs values by their holding duration — the difference between
    "average of ticks" (plain mean, dominated by bursty periods) and
    "average level over time" (TWAP, what a billing/exposure metric
    means).

    Exactness: cents × integral microseconds, summed in DECIMAL(38,0)
    (Spark) / int128 (DuckDB) — a plain BIGINT sum of cent-microsecond
    products overflows once corpus-years × price scale pass ~9e18,
    and partial-order double sums would drift; ONE cast to double at
    the end keeps both engines bit-identical.

    100 TB: the lead() window shuffles (user_id, ts, cents) once on
    user_id; the groupBy is partial-aggregated — decimal sums combine
    map-side like any other.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    nxt = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    held = ev.withColumn(
        "dur_us", F.lead("ts_us").over(nxt) - F.col("ts_us")
    ).filter(F.col("dur_us").isNotNull())
    return (
        held.groupBy("event_type")
        .agg(
            F.sum(
                F.col("cents").cast("decimal(38,0)") * F.col("dur_us")
            ).alias("sp"),
            F.sum("dur_us").alias("sd"),
        )
        .select(
            "event_type",
            (
                F.col("sp").cast("double") / F.col("sd").cast("double") / 100.0
            ).alias("twap"),
            F.col("sd").cast("long").alias("hold_us"),
        )
        .orderBy("event_type")
    )


# --- Poisson-bootstrap confidence interval ----------------------------------

BOOT_R = 100  # resamples
BOOT_LO_RANK = 3  # 2.5th percentile of 100: 3rd smallest (ceil(2.5))
BOOT_HI_RANK = 98  # 97.5th percentile: 98th smallest

# Per-(row, resample) uniform WITHOUT a per-draw md5 (measured: 100
# md5s per row made the query hash-bound at 15.9 s; this form is one
# md5 per row + integer arithmetic per draw, all codegen): seed the
# MINSTD LCG x_{r+1} = 48271·x_r mod (2^31−1) from the row's md5 and
# jump straight to draw r with the precomputed multiplier table
# A^r mod M (a literal array both engines index). Products stay under
# 2^62 — no overflow — and every step is exact integer math, so the
# oracle replays it verbatim.
_LCG_M = 2_147_483_647  # 2^31 − 1 (prime; MINSTD modulus)
_LCG_POWS = []
_p = 1
for _ in range(BOOT_R):
    _LCG_POWS.append(_p)
    _p = (_p * 48271) % _LCG_M

_SEED_SPARK = (
    "cast(conv(substring(md5(cast(o_orderkey AS STRING)), 1, 15), 16, 10)"
    f" AS BIGINT) % {_LCG_M}"
)
_SEED_SQL = (
    "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)"
    f" % {_LCG_M}"
)
_POWS_SPARK = f"element_at(array({', '.join(map(str, _LCG_POWS))}), r + 1)"
_POWS_SQL = f"([{', '.join(map(str, _LCG_POWS))}])[r + 1]"
# `seed` is a pre-bound COLUMN (computed once per row, before the
# ×R explode), not an inline expression — inlining would re-run the
# md5 once per draw (the same once-per-use trap as the shingle split)
_BOOT_U = f"CAST((seed * ({{pows}})) % {_LCG_M} AS DOUBLE) / {_LCG_M}.0"
_BOOT_U_SPARK = _BOOT_U.format(pows=_POWS_SPARK)
_BOOT_U_SQL = _BOOT_U.format(pows=_POWS_SQL)

# Poisson(1) by inverse CDF over the cumulative literals — one shared
# text so both engines compare the SAME doubles (tail capped at 6;
# P(X>6) ≈ 8e-5 merely re-weights a few rows, identically on both
# sides, which is fine for a bootstrap draw)
_POIS_CASE = """CASE
  WHEN {u} < 0.36787944117144233 THEN 0
  WHEN {u} < 0.7357588823428847  THEN 1
  WHEN {u} < 0.9196986029286058  THEN 2
  WHEN {u} < 0.9810118431238462  THEN 3
  WHEN {u} < 0.9963401531726563  THEN 4
  WHEN {u} < 0.9994058151824183  THEN 5
  ELSE 6 END"""

_BOOT_ORACLE = f"""
WITH o AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           {_SEED_SQL} AS seed
    FROM orders
),
draws AS (
    SELECT r, cents, {_POIS_CASE.format(u=_BOOT_U_SQL)} AS w
    FROM o CROSS JOIN (SELECT unnest(range({BOOT_R})) AS r)
),
stats AS (
    SELECT r,
           CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 100.0
             AS stat
    FROM draws GROUP BY r
),
ranked AS (
    SELECT stat, row_number() OVER (ORDER BY stat, r) AS rk FROM stats
),
pt AS (
    SELECT CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 AS point_mean
    FROM o
)
SELECT CAST({BOOT_R} AS BIGINT) AS n_resamples,
       pt.point_mean AS point_mean,
       lo.stat AS ci_lo,
       hi.stat AS ci_hi
FROM pt,
     (SELECT stat FROM ranked WHERE rk = {BOOT_LO_RANK}) lo,
     (SELECT stat FROM ranked WHERE rk = {BOOT_HI_RANK}) hi
"""


@register(
    "q_bootstrap_ci_mean",
    oracle=_BOOT_ORACLE,
    tags=("statistics", "bootstrap", "resampling"),
)
def q_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order price via
    the POISSON bootstrap: resample r gives every row an independent
    Poisson(1) weight instead of drawing n rows with replacement —
    the only bootstrap that runs as a single scan + groupBy (classic
    resampling needs global coordinated draws; Poisson weights are
    row-local, so 100 resamples are 100 partial-aggregated cells, and
    the data is never replicated or shuffled row-wise).

    Determinism: the weight is Poisson-inverse-CDF over a uniform from
    an md5-seeded MINSTD LCG jumped to draw r by a precomputed power
    table (one md5 per ROW, integer math per DRAW) — reproducible
    everywhere, replayed verbatim by the oracle. Resample means divide exact integer sums
    once; the CI endpoints are ORDER STATISTICS of the 100 resample
    means (3rd / 98th smallest — selection, not interpolation), so
    every emitted double is an exact element both engines picked
    identically.

    100 TB: the explode-by-R happens AFTER projection to (key, cents);
    partial aggregation collapses each partition to R cells before the
    shuffle, so the exchange carries R × partitions tiny rows. The
    rank window sees exactly R rows.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr(_SEED_SPARK).alias("seed"),
    )
    draws = o.select(
        "seed",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("r"),
    ).select(
        "r",
        "cents",
        F.expr(_POIS_CASE.format(u=_BOOT_U_SPARK)).alias("w"),
    )
    stats = draws.groupBy("r").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w").cast("double")
            / 100.0
        ).alias("stat")
    )
    ranked = stats.select(
        "stat",
        F.row_number().over(Window.orderBy("stat", "r")).alias("rk"),
    )
    lo = ranked.filter(F.col("rk") == BOOT_LO_RANK).select(
        F.col("stat").alias("ci_lo")
    )
    hi = ranked.filter(F.col("rk") == BOOT_HI_RANK).select(
        F.col("stat").alias("ci_hi")
    )
    pt = o.groupBy().agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias(
            "point_mean"
        )
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(BOOT_R).cast("long").alias("n_resamples"),
            "point_mean",
            "ci_lo",
            "ci_hi",
        )
    )


# --- SPRT sequential A/B stop rule ------------------------------------------

SPRT_P0 = 0.18  # H0 purchase share
SPRT_P1 = 0.22  # H1 purchase share
# alpha = beta = 0.05 -> accept-H1 at +ln(19), accept-H0 at -ln(19);
# increments and thresholds are ONE shared literal text per constant.
# CAST AS DOUBLE matters: Spark parses bare decimal literals as
# DecimalType, so 0.22/0.18 would divide (and ROUND) in decimal
# before ln ever sees it — a ~1e-7 cross-engine divergence, measured.
_SPRT_K1 = (
    f"ln(CAST({SPRT_P1} AS DOUBLE) / CAST({SPRT_P0} AS DOUBLE))"
)
_SPRT_K0 = (
    f"ln((1.0 - CAST({SPRT_P1} AS DOUBLE)) / (1.0 - CAST({SPRT_P0} AS DOUBLE)))"
)
_SPRT_A = "ln(CAST(19.0 AS DOUBLE))"

_SPRT_ORACLE = f"""
WITH d AS (
    SELECT date_trunc('day', ts) AS day,
           count(*) AS n_trials,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_conv
    FROM events WHERE user_id % 2 = 1
    GROUP BY 1
),
w AS (
    SELECT day, n_trials, n_conv,
           round(sum(n_conv * ({_SPRT_K1}) +
                     (n_trials - n_conv) * ({_SPRT_K0}))
                 OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 6) AS llr
    FROM d
),
x AS (
    SELECT *,
           min(CASE WHEN llr >= {_SPRT_A} THEN day END) OVER () AS d_hi,
           min(CASE WHEN llr <= -{_SPRT_A} THEN day END) OVER () AS d_lo
    FROM w
)
SELECT day, CAST(n_trials AS BIGINT) AS n_trials,
       CAST(n_conv AS BIGINT) AS n_conv, llr,
       CASE
         WHEN d_hi IS NOT NULL AND (d_lo IS NULL OR d_hi <= d_lo)
              AND day >= d_hi THEN 'accept_h1'
         WHEN d_lo IS NOT NULL AND (d_hi IS NULL OR d_lo < d_hi)
              AND day >= d_lo THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM x ORDER BY day
"""


@register(
    "q_sprt_ab_daily",
    oracle=_SPRT_ORACLE,
    tags=("statistics", "sequential", "ab-test"),
)
def q_sprt_ab_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT over the treatment arm's daily purchase share
    (H0: p = 0.18 vs H1: p = 0.22, α = β = 0.05): the day-ordered
    log-likelihood-ratio walk, with the decision state each day —
    `accept_h1` / `accept_h0` once the walk first crosses ±ln 19,
    frozen thereafter. This is the STOP-EARLY rule a fixed-horizon
    test (`q_ab_test_welch`) cannot give: peeking at a z-test daily
    inflates false positives; peeking at an SPRT is its design.

    Determinism (CUSUM pattern): daily (trials, conversions) are exact
    BIGINTs; the per-day LLR increment is one shared literal
    expression; the walk is a day-ordered prefix sum — identical
    addition order on both engines — snapped to 1e-6; first-crossing
    days come from whole-series min-over-flag windows on the
    calendar-bounded rollup.

    100 TB: events reduce to a |days| rollup in one partial-aggregated
    pass (the arm filter is a scan-stage predicate); every window
    after that sees calendar-bounded rows only.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 2 == 1)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_trials"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_conv"),
        )
    )
    walk = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    whole = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    inc = F.expr(
        f"n_conv * ({_SPRT_K1}) + (n_trials - n_conv) * ({_SPRT_K0})"
    )
    w = d.withColumn("llr", F.round(F.sum(inc).over(walk), 6))
    x = w.withColumn(
        "d_hi",
        F.min(F.when(F.col("llr") >= F.expr(_SPRT_A), F.col("day"))).over(
            whole
        ),
    ).withColumn(
        "d_lo",
        F.min(F.when(F.col("llr") <= -F.expr(_SPRT_A), F.col("day"))).over(
            whole
        ),
    )
    decision = (
        F.when(
            F.col("d_hi").isNotNull()
            & (F.col("d_lo").isNull() | (F.col("d_hi") <= F.col("d_lo")))
            & (F.col("day") >= F.col("d_hi")),
            F.lit("accept_h1"),
        )
        .when(
            F.col("d_lo").isNotNull()
            & (F.col("d_hi").isNull() | (F.col("d_lo") < F.col("d_hi")))
            & (F.col("day") >= F.col("d_lo")),
            F.lit("accept_h0"),
        )
        .otherwise(F.lit("continue"))
    )
    return x.select(
        "day",
        F.col("n_trials").cast("long").alias("n_trials"),
        F.col("n_conv").cast("long").alias("n_conv"),
        "llr",
        decision.alias("decision"),
    ).orderBy("day")


# --- Poisson-bootstrap CI on the A/B uplift ----------------------------------

_UPLIFT_ORACLE = f"""
WITH o AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           o_custkey % 2 AS arm,
           {_SEED_SQL} AS seed
    FROM orders
),
draws AS (
    SELECT r, arm, cents, {_POIS_CASE.format(u=_BOOT_U_SQL)} AS w
    FROM o CROSS JOIN (SELECT unnest(range({BOOT_R})) AS r)
),
stats AS (
    SELECT r,
           CAST(sum(CASE WHEN arm = 1 THEN w * cents ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN arm = 1 THEN w ELSE 0 END) / 100.0
           - CAST(sum(CASE WHEN arm = 0 THEN w * cents ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN arm = 0 THEN w ELSE 0 END) / 100.0 AS uplift
    FROM draws GROUP BY r
),
ranked AS (
    SELECT uplift, row_number() OVER (ORDER BY uplift, r) AS rk FROM stats
),
pt AS (
    SELECT CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) / 100.0
           - CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) / 100.0
             AS point_uplift
    FROM o
)
SELECT CAST({BOOT_R} AS BIGINT) AS n_resamples,
       pt.point_uplift AS point_uplift,
       lo.uplift AS ci_lo,
       hi.uplift AS ci_hi,
       CASE WHEN lo.uplift > 0 OR hi.uplift < 0 THEN 1 ELSE 0 END
         AS significant
FROM pt,
     (SELECT uplift FROM ranked WHERE rk = {BOOT_LO_RANK}) lo,
     (SELECT uplift FROM ranked WHERE rk = {BOOT_HI_RANK}) hi
"""


@register(
    "q_bootstrap_ci_uplift",
    oracle=_UPLIFT_ORACLE,
    tags=("statistics", "bootstrap", "ab-test"),
)
def q_bootstrap_ci_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI on the treatment−control mean-order-value
    uplift — the practical A/B deliverable (Welch gives an asymptotic
    s.e.; this gives the interval with NO normality assumption, and
    the `significant` flag is just "does the interval exclude 0").
    Each resample draws BOTH arms with the same row-local Poisson
    weights, so the per-resample uplift difference is internally
    consistent — still one scan + one groupBy over R cells.

    Same deterministic machinery as `q_bootstrap_ci_mean`: md5-seeded
    MINSTD LCG jumped per draw, exact integer weighted sums per (r,
    arm), order-statistic CI endpoints.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_custkey") % 2).alias("arm"),
        F.expr(_SEED_SPARK).alias("seed"),
    )
    draws = o.select(
        "seed",
        "arm",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("r"),
    ).select(
        "r",
        "arm",
        "cents",
        F.expr(_POIS_CASE.format(u=_BOOT_U_SPARK)).alias("w"),
    )
    t_num = F.sum(
        F.when(F.col("arm") == 1, F.col("w") * F.col("cents")).otherwise(0)
    )
    t_den = F.sum(F.when(F.col("arm") == 1, F.col("w")).otherwise(0))
    c_num = F.sum(
        F.when(F.col("arm") == 0, F.col("w") * F.col("cents")).otherwise(0)
    )
    c_den = F.sum(F.when(F.col("arm") == 0, F.col("w")).otherwise(0))
    stats = draws.groupBy("r").agg(
        (
            t_num.cast("double") / t_den / 100.0
            - c_num.cast("double") / c_den / 100.0
        ).alias("uplift")
    )
    ranked = stats.select(
        "uplift",
        F.row_number().over(Window.orderBy("uplift", "r")).alias("rk"),
    )
    lo = ranked.filter(F.col("rk") == BOOT_LO_RANK).select(
        F.col("uplift").alias("ci_lo")
    )
    hi = ranked.filter(F.col("rk") == BOOT_HI_RANK).select(
        F.col("uplift").alias("ci_hi")
    )
    pt = o.groupBy().agg(
        (
            F.sum(
                F.when(F.col("arm") == 1, F.col("cents")).otherwise(0)
            ).cast("double")
            / F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            / 100.0
            - F.sum(
                F.when(F.col("arm") == 0, F.col("cents")).otherwise(0)
            ).cast("double")
            / F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            / 100.0
        ).alias("point_uplift")
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(BOOT_R).cast("long").alias("n_resamples"),
            "point_uplift",
            "ci_lo",
            "ci_hi",
            F.when(
                (F.col("ci_lo") > 0) | (F.col("ci_hi") < 0), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("significant"),
        )
    )


# --- James-Stein / empirical-Bayes shrinkage ---------------------------------

#: final-stage shrinkage math, ONE shared text over the moment columns:
#: within-group variance s2 (pooled), between-group moment tau2 by
#: method of moments (clamped at 0), per-group B = (s2/n_g) /
#: (s2/n_g + tau2). tau2 = 0 ⇒ B = 1 ⇒ full shrink to the grand mean.
_JS_TAU2 = (
    "greatest(CAST(0.0 AS DOUBLE),"
    " (ssd_means / (k - 1.0)) - (s2 / (nn / k)))"
)

_JS_ORACLE = f"""
WITH g AS (
    SELECT p_brand AS brand,
           CAST(count(*) AS DOUBLE) AS n_g,
           {_DSUM_SQL.format(x="p_retailprice")} AS sx,
           {_DSUM_SQL.format(x="p_retailprice * p_retailprice")} AS sxx
    FROM part GROUP BY p_brand
),
tot AS (
    SELECT CAST(count(*) AS DOUBLE) AS k,
           {_DSUM_SQL.format(x="n_g")} AS nn,
           {_DSUM_SQL.format(x="sx")} AS sx_all,
           {_DSUM_SQL.format(x="sxx - sx * sx / n_g")} AS ssw,
           {_DSUM_SQL.format(x="n_g * (sx / n_g) * (sx / n_g)")} AS snm2
    FROM g
),
wide AS (
    SELECT g.brand, g.n_g, g.sx / g.n_g AS mean_raw,
           t.sx_all / t.nn AS grand_mean,
           t.ssw / (t.nn - t.k) AS s2,
           t.k, t.nn,
           (t.snm2 - t.nn * (t.sx_all / t.nn) * (t.sx_all / t.nn)) / t.nn
             * t.k AS ssd_means
    FROM g, tot t
)
SELECT brand,
       CAST(n_g AS BIGINT) AS n_parts,
       mean_raw,
       (s2 / n_g) / (s2 / n_g + {_JS_TAU2}) AS shrinkage_b,
       grand_mean
       + (1.0 - (s2 / n_g) / (s2 / n_g + {_JS_TAU2}))
         * (mean_raw - grand_mean) AS mean_shrunk
FROM wide ORDER BY brand
"""


@register(
    "q_james_stein_brand_price",
    oracle=_JS_ORACLE,
    tags=("statistics", "empirical-bayes", "shrinkage", "estimation"),
)
def q_james_stein_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (James-Stein-style) shrinkage of per-brand mean
    retail prices toward the grand mean: small or noisy groups borrow
    strength from the ensemble — the estimator that DOMINATES the raw
    per-group means in total squared error whenever ≥ 3 groups exist
    (Stein's paradox), and the standard fix for small-cell dashboards
    and per-segment price/quality estimates.

    Normal-normal method of moments in moment space: per-group
    (n, Σx, Σx²) → pooled within-variance s², between-group τ² clamped
    at 0, per-group shrinkage B_g = (s²/n_g)/(s²/n_g + τ²), shrunk
    mean = m + (1−B_g)(mean_g − m). The entire estimator is ONE shared
    expression text over eight moment scalars; τ² = 0 (groups
    indistinguishable) collapses every group to the grand mean.

    Scale: one partial-aggregated pass to |brands| moment rows, a
    2-level rollup over those rows, and a broadcast join back —
    nothing beyond group count ever shuffles (det_sums are the
    oracle-replay form of plain sums).
    """
    part = load_table(spark, sf_dir, "part")
    g = part.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("double").alias("n_g"),
        det_sum("p_retailprice").alias("sx"),
        det_sum("p_retailprice * p_retailprice").alias("sxx"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        det_sum("n_g").alias("nn"),
        det_sum("sx").alias("sx_all"),
        det_sum("sxx - sx * sx / n_g").alias("ssw"),
        det_sum("n_g * (sx / n_g) * (sx / n_g)").alias("snm2"),
    )
    wide = g.crossJoin(F.broadcast(tot)).selectExpr(
        "brand",
        "n_g",
        "sx / n_g AS mean_raw",
        "sx_all / nn AS grand_mean",
        "ssw / (nn - k) AS s2",
        "k",
        "nn",
        "(snm2 - nn * (sx_all / nn) * (sx_all / nn)) / nn * k AS ssd_means",
    )
    return wide.selectExpr(
        "brand",
        "CAST(n_g AS BIGINT) AS n_parts",
        "mean_raw",
        f"(s2 / n_g) / (s2 / n_g + {_JS_TAU2}) AS shrinkage_b",
        f"grand_mean + (1.0 - (s2 / n_g) / (s2 / n_g + {_JS_TAU2}))"
        " * (mean_raw - grand_mean) AS mean_shrunk",
    ).orderBy("brand")
