"""A/B experimentation guardrails: SRM check and MDE/power readout.

Two pre-analysis gates every experimentation platform runs BEFORE the
significance tests the catalog already ships (Welch, CUPED, BH-FDR,
SPRT, bootstrap):

- **Sample-ratio mismatch** (`q_ab_srm_check`): the randomizer-health
  chi-square of the observed per-arm UNIT counts against the intended
  50/50 split. A biased split silently invalidates every downstream
  readout, which is why SRM uses a far stricter alarm threshold
  (p < 0.001, the industry convention) than any effect test. For a
  two-arm 50/50 design the statistic collapses algebraically to
  (n₀−n₁)²/(n₀+n₁) — one division of exact BIGINTs — and its 1-df
  p-value is 2·Q(√χ²), the SAME shared Abramowitz-Stegun 26.2.17 tail
  text the BH family uses.

- **Minimum detectable effect** (`q_ab_power_mde`): given the
  observed per-user metric variance and arm sizes, the smallest true
  difference the standard two-sample test would detect at α = 0.05
  with 80% power: MDE = (z_{{α/2}} + z_{{β}})·s_pooled·√(1/n₀+1/n₁).
  The z constants are shared literals; the pooled variance comes from
  det-ordered moment folds over the per-user rollup (the Welch
  query's exactness pattern) with the same degenerate-margin guards.

Both run on the catalog's standard md5-parity arm assignment over
users. 100 TB: one partial-agg pass to per-user rows, then per-arm
moments — the Welch scale shape; the SRM path shuffles only distinct
user ids.

The family tests sit beside the gates:

- **Benjamini-Hochberg FDR** (`q_bh_fdr_event_tests`) over the
  per-event-type Welch tests: false-discovery control across the
  family instead of per-test α. Normal-tail p-values come from the
  Abramowitz-Stegun 26.2.17 approximation rendered as ONE shared SQL
  text (``_AS_P``; neither engine has erf), so p-values, and therefore
  the BH ranks and cutoffs, are bit-identical cross-engine.
- **CUPED** (`q_cuped_adjusted_uplift`): the pre-period covariate
  adjustment that shrinks the uplift's variance.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import eager_checkpoint
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.plans.reshape import (
    _BUCKET_SPARK,
    _BUCKET_SQL,
)
from cost_of_living_data_etl_spark.plans.stats_analytics import (
    _ARM_SPARK,
    _ARM_SQL,
)
from cost_of_living_data_etl_spark.sources.tables import load_table


# --- Benjamini-Hochberg FDR over the Welch test family ----------------------

FDR_Q = "0.10"  # target false-discovery rate (SQL literal)

# Abramowitz & Stegun 26.2.17: upper-tail Q(x) = φ(x)·poly(1/(1+px)) for
# x ≥ 0, |ε| < 7.5e-8 — far below any BH decision margin here. ONE text,
# rendered with {t} = the t-statistic expression; two-sided p = 2·Q(|t|).
_AS_P = (
    "(2.0 * (exp(-(abs({t}) * abs({t})) / 2.0) / sqrt(2.0 * pi())) * "
    "((((( 1.330274429 * (1.0 / (1.0 + 0.2316419 * abs({t}))) "
    "- 1.821255978) * (1.0 / (1.0 + 0.2316419 * abs({t}))) "
    "+ 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs({t}))) "
    "- 0.356563782) * (1.0 / (1.0 + 0.2316419 * abs({t}))) "
    "+ 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs({t})))))"
)

#: degenerate-margin guard (mirrors the _CHI2_EXPR CASE guard): an arm
#: with n=1 has an undefined sample variance (the `w` stage divides by
#: n-1=0) and equal-mean zero-variance pairs give 0/0 — either way the
#: test is undefined, so the shared text defines t=0, p=1 (never
#: rejected, excluded from the BH family by construction) instead of
#: letting NaN flow into the p-value ranking and step-up cutoff.
_WELCH_OK_SQL = (
    "(n_a > 1 AND n_b > 1 AND (var_a / n_a + var_b / n_b) > 0.0)"
)
_WELCH_T_RAW = "(mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)"
_WELCH_T_SQL = (
    f"CASE WHEN {_WELCH_OK_SQL} THEN {_WELCH_T_RAW} "
    "ELSE CAST(0.0 AS DOUBLE) END"
)
#: n=1 makes the n-1 divisor zero, and float x/0 DIVERGES cross-engine
#: (DuckDB NULL, Spark NaN) — so the variance itself is guarded in the
#: shared text, not just the t-statistic.
_WELCH_VAR_SQL = (
    "CASE WHEN {n} > 1 THEN greatest({ssq} - {s} * {s} / {n}, "
    "CAST(0.0 AS DOUBLE)) / ({n} - 1) ELSE CAST(0.0 AS DOUBLE) END"
)
_WELCH_P_SQL = (
    f"CASE WHEN {_WELCH_OK_SQL} THEN {_AS_P.format(t=_WELCH_T_RAW)} "
    "ELSE CAST(1.0 AS DOUBLE) END"
)

_BH_ORACLE = f"""
WITH assigned AS (
    SELECT event_type, value,
           {_ARM_SQL.format(k="user_id")} AS arm
    FROM events
),
m AS (
    SELECT event_type, arm,
           CAST(count(*) AS BIGINT) AS n,
           {_DSUM_SQL.format(x="value")} AS s,
           {_DSUM_SQL.format(x="value * value")} AS ssq
    FROM assigned GROUP BY event_type, arm
),
w AS (
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b,
           a.s / a.n AS mean_a, b.s / b.n AS mean_b,
           {_WELCH_VAR_SQL.format(n="a.n", s="a.s", ssq="a.ssq")} AS var_a,
           {_WELCH_VAR_SQL.format(n="b.n", s="b.s", ssq="b.ssq")} AS var_b
    FROM m a JOIN m b ON a.event_type = b.event_type
                     AND a.arm = 0 AND b.arm = 1
),
tested AS (
    SELECT event_type, {_WELCH_T_SQL} AS t_stat,
           {_WELCH_P_SQL} AS p_value
    FROM w
),
ranked AS (
    SELECT event_type, t_stat, p_value,
           row_number() OVER (ORDER BY p_value, event_type) AS p_rank,
           count(*) OVER () AS m_tests
    FROM tested
),
flagged AS (
    SELECT *,
           CASE WHEN p_value <= CAST({FDR_Q} AS DOUBLE) * p_rank / m_tests
                THEN p_rank ELSE 0 END AS hit
    FROM ranked
)
SELECT event_type, t_stat, p_value,
       CAST(p_rank AS BIGINT) AS p_rank,
       CAST({FDR_Q} AS DOUBLE) * p_rank / m_tests AS bh_threshold,
       p_rank <= max(hit) OVER () AS rejected
FROM flagged
ORDER BY p_rank
"""


@register(
    "q_bh_fdr_event_tests",
    oracle=_BH_ORACLE,
    tags=("statistics", "ab-test", "multiple-testing", "fdr"),
)
def q_bh_fdr_event_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the family of per-event-type
    Welch A/B tests: p-values ranked ascending, the largest rank k with
    p_(k) ≤ q·k/m wins, hypotheses 1..k are rejected. Per-test α (the
    `significant` flag of q_ab_test_welch) lets expected false
    positives grow linearly with the test count; BH caps the EXPECTED
    FALSE-DISCOVERY FRACTION at q across the whole readout table — the
    correction every experimentation platform applies before anyone
    acts on a dashboard of dozens of metrics.

    Normal-tail p-values via the A&S 26.2.17 rational approximation in
    one shared SQL text (|ε| < 7.5e-8; neither engine has erf) —
    p-values, ranks, and the step-up cutoff are bit-identical
    cross-engine. The step-up rule is rank arithmetic over the tested
    family (|event_types| rows): `max(hit) OVER ()` finds k, rejection
    is `p_rank <= k`.

    Scale: identical to the Welch plan — one partial-aggregated pass
    to |event_type × 2| moment rows; everything after is O(m) on the
    m-row test family. With thousands of metric×segment hypotheses the
    same plan holds (m rows is still tiny); the det_sum folds are the
    oracle-replay variant of plain partial-agg moments.
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
    var = F.expr(_WELCH_VAR_SQL.format(n="n", s="s", ssq="ssq"))
    a = m.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        (F.col("s") / F.col("n")).alias("mean_a"),
        var.alias("var_a"),
    )
    b = m.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        (F.col("s") / F.col("n")).alias("mean_b"),
        var.alias("var_b"),
    )
    tested = a.join(b, "event_type").select(
        "event_type",
        F.expr(_WELCH_T_SQL).alias("t_stat"),
        F.expr(_WELCH_P_SQL).alias("p_value"),
    )
    wall = Window.orderBy("p_value", "event_type")
    whole = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = tested.select(
        "event_type",
        "t_stat",
        "p_value",
        F.row_number().over(wall).alias("p_rank"),
        F.count(F.lit(1)).over(whole).alias("m_tests"),
    )
    flagged = ranked.withColumn(
        "hit",
        F.when(
            F.col("p_value")
            <= F.expr(f"CAST({FDR_Q} AS DOUBLE)") * F.col("p_rank") / F.col("m_tests"),
            F.col("p_rank"),
        ).otherwise(F.lit(0)),
    )
    return flagged.select(
        "event_type",
        "t_stat",
        "p_value",
        F.col("p_rank").cast("long").alias("p_rank"),
        (
            F.expr(f"CAST({FDR_Q} AS DOUBLE)")
            * F.col("p_rank")
            / F.col("m_tests")
        ).alias("bh_threshold"),
        (F.col("p_rank") <= F.max("hit").over(whole)).alias("rejected"),
    ).orderBy("p_rank")


# --- CUPED variance-reduced uplift -------------------------------------------

#: HARD CONTRACT: treatment exposure starts at day CUPED_SPLIT_DAY.
#: The covariate (days 1..SPLIT-1) is only arm-independent — the CUPED
#: premise — if no treatment touches the early-month window; a
#: whole-month treatment leaks effect into theta and biases
#: uplift_cuped (pinned by test_cuped_biased_when_treatment_precedes_split).
CUPED_SPLIT_DAY = 15  # pre-period = days 1-14 of the event month

#: final-stage arithmetic on the arm-level moments, ONE text per value;
#: theta = cov(pre, post) / var(pre) pooled over all users.
_CUPED_THETA = (
    "((sxy - sx * sy / n) / (sxx - sx * sx / n))"
)

_CUPED_ORACLE = f"""
WITH per_user AS (
    SELECT user_id,
           {_ARM_SQL.format(k="user_id")} AS arm,
           {_DSUM_SQL.format(x=f"CASE WHEN extract(day FROM ts) < {CUPED_SPLIT_DAY} THEN value ELSE 0.0 END")} AS pre,
           {_DSUM_SQL.format(x=f"CASE WHEN extract(day FROM ts) >= {CUPED_SPLIT_DAY} THEN value ELSE 0.0 END")} AS post
    FROM events GROUP BY user_id
),
pooled AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           {_DSUM_SQL.format(x="pre")} AS sx,
           {_DSUM_SQL.format(x="post")} AS sy,
           {_DSUM_SQL.format(x="pre * pre")} AS sxx,
           {_DSUM_SQL.format(x="pre * post")} AS sxy,
           {_DSUM_SQL.format(x="post * post")} AS syy
    FROM per_user
),
arms AS (
    SELECT arm,
           CAST(count(*) AS DOUBLE) AS n_arm,
           {_DSUM_SQL.format(x="pre")} AS sx_arm,
           {_DSUM_SQL.format(x="post")} AS sy_arm
    FROM per_user GROUP BY arm
),
wide AS (
    SELECT p.n, p.sx, p.sy, p.sxx, p.sxy, p.syy,
           a0.n_arm AS n0, a0.sx_arm AS sx0, a0.sy_arm AS sy0,
           a1.n_arm AS n1, a1.sx_arm AS sx1, a1.sy_arm AS sy1
    FROM pooled p, arms a0, arms a1
    WHERE a0.arm = 0 AND a1.arm = 1
)
SELECT CAST(n AS BIGINT) AS n_users,
       {_CUPED_THETA} AS theta,
       sy1 / n1 - sy0 / n0 AS uplift_raw,
       (sy1 / n1 - {_CUPED_THETA} * (sx1 / n1 - sx / n))
       - (sy0 / n0 - {_CUPED_THETA} * (sx0 / n0 - sx / n)) AS uplift_cuped,
       ({_CUPED_THETA} * {_CUPED_THETA}) * (sxx - sx * sx / n)
         / (syy - sy * sy / n) AS variance_reduction
FROM wide
"""


@register(
    "q_cuped_adjusted_uplift",
    oracle=_CUPED_ORACLE,
    tags=("statistics", "ab-test", "cuped", "variance-reduction"),
)
def q_cuped_adjusted_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B uplift (Deng et al. 2013): each
    user's post-period metric is adjusted by their PRE-period activity,
    y* = y − θ(x − x̄) with θ = cov(x,y)/var(x). The adjustment changes
    no expectation ONLY when the covariate is arm-independent; here
    that is a HARD CONTRACT, not a derived fact: treatment exposure is
    assumed to start at day CUPED_SPLIT_DAY, so days 1..14 of the same
    month are genuinely pre-exposure. If a treatment is active the
    whole month, θ absorbs part of the effect and uplift_cuped is
    biased toward zero — the semantic tests pin BOTH sides (unbiased
    recovery when the effect is post-only; measurable bias when the
    contract is violated).
    The single highest-leverage sensitivity trick in online
    experimentation: the same uplift read with θ²·var(x)/var(y) of the
    metric variance gone (reported as `variance_reduction`).

    Pre/post = first/second half of the event month per user, both as
    per-user sorted folds; θ, the two uplifts, and the variance ratio
    are ONE shared expression text over 12 arm/pooled moments —
    bit-identical cross-engine.

    Scale: one user-level aggregate (partial-aggregated; det_sum is
    the oracle-replay form of plain sums), then a 2-row arm rollup and
    a broadcast single-row join. Nothing scales past |users| rows, and
    only moment scalars reach the final stage.
    """
    events = load_table(spark, sf_dir, "events")
    pre_case = (
        f"CASE WHEN extract(day FROM ts) < {CUPED_SPLIT_DAY}"
        " THEN value ELSE 0.0 END"
    )
    post_case = (
        f"CASE WHEN extract(day FROM ts) >= {CUPED_SPLIT_DAY}"
        " THEN value ELSE 0.0 END"
    )
    per_user = events.groupBy("user_id").agg(
        F.expr(_ARM_SPARK.format(k="first(user_id)")).alias("arm"),
        det_sum(pre_case).alias("pre"),
        det_sum(post_case).alias("post"),
    ).transform(eager_checkpoint)  # consumed by pooled AND arm branches; slim
    # (user_id, arm, pre, post) rows — without it the user-level
    # aggregate pass over raw events runs twice (no shared subplan)
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        det_sum("pre").alias("sx"),
        det_sum("post").alias("sy"),
        det_sum("pre * pre").alias("sxx"),
        det_sum("pre * post").alias("sxy"),
        det_sum("post * post").alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n_arm"),
        det_sum("pre").alias("sx_arm"),
        det_sum("post").alias("sy_arm"),
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        F.col("n_arm").alias("n0"),
        F.col("sx_arm").alias("sx0"),
        F.col("sy_arm").alias("sy0"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        F.col("n_arm").alias("n1"),
        F.col("sx_arm").alias("sx1"),
        F.col("sy_arm").alias("sy1"),
    )
    wide = pooled.crossJoin(F.broadcast(a0)).crossJoin(F.broadcast(a1))
    return wide.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        f"{_CUPED_THETA} AS theta",
        "sy1 / n1 - sy0 / n0 AS uplift_raw",
        f"(sy1 / n1 - {_CUPED_THETA} * (sx1 / n1 - sx / n))"
        f" - (sy0 / n0 - {_CUPED_THETA} * (sx0 / n0 - sx / n))"
        " AS uplift_cuped",
        f"({_CUPED_THETA} * {_CUPED_THETA}) * (sxx - sx * sx / n)"
        " / (syy - sy * sy / n) AS variance_reduction",
    )


_BUCKET_SPARK_K = _BUCKET_SPARK.format(k="o_orderkey")
_BUCKET_SQL_K = _BUCKET_SQL.format(k="o_orderkey")

SRM_ALPHA = 0.001  # industry-standard SRM alarm threshold

#: z_{α/2} at α=0.05 and z_β at 80% power — shared literals (repr of
#: the standard normal quantiles)
Z_ALPHA_2 = "1.959963984540054"
Z_BETA = "0.8416212335729143"

_SRM_CHI2 = "CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1)"
_SRM_P = _AS_P.format(t="sqrt(chi2)")

_SRM_ORACLE = f"""
WITH users AS (
    SELECT DISTINCT user_id, {_ARM_SQL.format(k="user_id")} AS arm
    FROM events
),
counts AS (
    SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
    FROM users
),
c2 AS (SELECT n0, n1, {_SRM_CHI2} AS chi2 FROM counts)
SELECT n0 AS n_arm0, n1 AS n_arm1, chi2 AS srm_chi2,
       {_SRM_P} AS srm_p,
       {_SRM_P} < {SRM_ALPHA} AS srm_flag
FROM c2
"""


@register(
    "q_ab_srm_check",
    oracle=_SRM_ORACLE,
    tags=("experimentation", "srm", "guardrail", "ab-test"),
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the standard md5-parity
    arm assignment: per-arm distinct-user counts, the 50/50 chi-square
    (one exact-integer division), its 1-df p-value via the shared A&S
    tail text, and the p < 0.001 alarm flag. See the module
    docstring."""
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(F.expr(_ARM_SPARK.format(k="user_id")).alias("arm"))
    )
    counts = users.groupBy().agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    return counts.selectExpr("n0", "n1", f"{_SRM_CHI2} AS chi2").selectExpr(
        "n0 AS n_arm0",
        "n1 AS n_arm1",
        "chi2 AS srm_chi2",
        f"{_SRM_P} AS srm_p",
        f"{_SRM_P} < {SRM_ALPHA} AS srm_flag",
    )


#: pooled two-sample variance from per-arm moments, with the Welch
#: family's degenerate guards (n ≤ 1 arms contribute 0 df)
_POOLED_VAR = (
    "CASE WHEN n0 + n1 > 2 THEN"
    " (greatest(ssq0 - s0 * s0 / n0, CAST(0.0 AS DOUBLE))"
    "  + greatest(ssq1 - s1 * s1 / n1, CAST(0.0 AS DOUBLE)))"
    " / (n0 + n1 - 2.0) ELSE CAST(0.0 AS DOUBLE) END"
)
_MDE_ABS = (
    f"(CAST({Z_ALPHA_2} AS DOUBLE) + CAST({Z_BETA} AS DOUBLE))"
    " * sqrt(pooled_var) * sqrt(1.0 / n0 + 1.0 / n1)"
)

_MDE_ORACLE = f"""
WITH per_user AS (
    SELECT user_id, {_ARM_SQL.format(k="user_id")} AS arm,
           {_DSUM_SQL.format(x="value")} AS metric
    FROM events GROUP BY user_id
),
m AS (
    SELECT
        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        {_DSUM_SQL.format(x="CASE WHEN arm = 0 THEN metric ELSE CAST(0.0 AS DOUBLE) END")} AS s0,
        {_DSUM_SQL.format(x="CASE WHEN arm = 1 THEN metric ELSE CAST(0.0 AS DOUBLE) END")} AS s1,
        {_DSUM_SQL.format(x="CASE WHEN arm = 0 THEN metric * metric ELSE CAST(0.0 AS DOUBLE) END")} AS ssq0,
        {_DSUM_SQL.format(x="CASE WHEN arm = 1 THEN metric * metric ELSE CAST(0.0 AS DOUBLE) END")} AS ssq1
    FROM per_user
),
v AS (SELECT n0, n1, s0, s1, {_POOLED_VAR} AS pooled_var FROM m)
SELECT n0 AS n_arm0, n1 AS n_arm1,
       sqrt(pooled_var) AS pooled_sd,
       {_MDE_ABS} AS mde_abs,
       CASE WHEN s0 + s1 > 0 THEN ({_MDE_ABS})
            / ((s0 + s1) / (n0 + n1)) ELSE CAST(0.0 AS DOUBLE) END
         AS mde_rel
FROM v
"""


@register(
    "q_ab_power_mde",
    oracle=_MDE_ORACLE,
    tags=("experimentation", "power", "mde", "ab-test"),
)
def q_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the per-user event-value metric at
    α = 0.05 / 80% power given the observed arm sizes and pooled
    variance — the "is this experiment even big enough?" readout run
    before any significance test. Moments are det-ordered folds over
    the per-user rollup; the z quantiles are shared literals. See the
    module docstring."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(det_sum("value").alias("metric"))
        .select(
            F.expr(_ARM_SPARK.format(k="user_id")).alias("arm"), "metric"
        )
    )
    m = per_user.groupBy().agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        det_sum(
            "CASE WHEN arm = 0 THEN metric ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("s0"),
        det_sum(
            "CASE WHEN arm = 1 THEN metric ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("s1"),
        det_sum(
            "CASE WHEN arm = 0 THEN metric * metric"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("ssq0"),
        det_sum(
            "CASE WHEN arm = 1 THEN metric * metric"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("ssq1"),
    )
    return m.selectExpr(
        "n0", "n1", "s0", "s1", f"{_POOLED_VAR} AS pooled_var"
    ).selectExpr(
        "n0 AS n_arm0",
        "n1 AS n_arm1",
        "sqrt(pooled_var) AS pooled_sd",
        f"{_MDE_ABS} AS mde_abs",
        f"CASE WHEN s0 + s1 > 0 THEN ({_MDE_ABS})"
        " / ((s0 + s1) / (n0 + n1)) ELSE CAST(0.0 AS DOUBLE) END"
        " AS mde_rel",
    )


# ---------------------------------------------------------------------------
# approximate query processing: sampled SUM with honest error bars
# ---------------------------------------------------------------------------

AQP_PCT = 10  # deterministic md5-bucket sample: buckets < AQP_PCT

#: scale-up factor and CLT half-width, ONE shared text each. The
#: half-width is for the SUM estimator N·x̄_s: N·z·s/√n_s with the
#: finite-population correction √((N−n)/(N−1)) — on a 10% sample the
#: FPC tightens the bar ~5%, and leaving it out is the classic AQP
#: overcoverage bug.
_AQP_EST = "CAST(n_all AS DOUBLE) * (CAST(s_cents AS DOUBLE) / n_s) / 100.0"
_AQP_HW = (
    "CAST(n_all AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)"
    " * sqrt((CASE WHEN n_s > 1 THEN"
    " greatest(CAST(ssq_cents AS DOUBLE) / 10000.0"
    " - (CAST(s_cents AS DOUBLE) / 100.0) * (CAST(s_cents AS DOUBLE) / 100.0)"
    " / n_s, CAST(0.0 AS DOUBLE)) / (n_s - 1.0)"
    " ELSE CAST(0.0 AS DOUBLE) END) / n_s)"
    " * sqrt(CAST(n_all - n_s AS DOUBLE) / (n_all - 1.0))"
)

_AQP_ORACLE = f"""
WITH base AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS yc,
           CASE WHEN ({{bucket}}) < {AQP_PCT} THEN 1 ELSE 0 END AS in_s
    FROM orders
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n_all,
           CAST(sum(yc) AS BIGINT) AS exact_cents,
           CAST(sum(in_s) AS BIGINT) AS n_s,
           CAST(sum(CASE WHEN in_s = 1 THEN yc ELSE 0 END) AS BIGINT)
             AS s_cents,
           sum(CASE WHEN in_s = 1 THEN CAST(yc AS HUGEINT) * yc
                    ELSE 0 END) AS ssq_cents
    FROM base
)
SELECT n_all AS n_rows, n_s AS n_sampled,
       CAST(exact_cents AS DOUBLE) / 100.0 AS exact_sum,
       {_AQP_EST} AS est_sum,
       {_AQP_HW} AS ci_halfwidth,
       abs({_AQP_EST} - CAST(exact_cents AS DOUBLE) / 100.0)
         <= {_AQP_HW} AS within_ci
FROM m
"""


@register(
    "q_aqp_sample_sum_error",
    oracle=_AQP_ORACLE.format(bucket=_BUCKET_SQL_K),
    tags=("aqp", "sampling", "approximation", "diagnostics"),
)
def q_aqp_sample_sum_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing with honest error accounting: the
    total order value estimated from the deterministic md5 {AQP_PCT}%
    sample (N·x̄_s), its 95% CLT half-width WITH the finite-population
    correction, and — because the fixture affords it — the exact
    answer and whether it landed inside the interval. The point of the
    operator is the error bar, not the estimate: an AQP layer that
    can't bound its error is a random-number generator. All inputs are
    exact BIGINT cent sums (values live on the money grid), so the
    whole row hash-replays; at 100 TB the exact column is the one you
    DON'T compute — the sample scan is the product.

    Scale: one partial-agg pass computing both branches (sample
    membership is a map-side flag, never a separate scan)."""
    base = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("yc"),
        F.expr(
            f"CASE WHEN ({_BUCKET_SPARK_K}) < {AQP_PCT} THEN 1 ELSE 0 END"
        ).alias("in_s"),
    )
    m = base.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("yc").cast("long").alias("exact_cents"),
        F.sum("in_s").cast("long").alias("n_s"),
        F.expr(
            "CAST(sum(CASE WHEN in_s = 1 THEN yc ELSE 0 END) AS BIGINT)"
        ).alias("s_cents"),
        # cents² exceeds int64 at fixture magnitudes: accumulate in
        # DECIMAL(38,0) (Spark) / HUGEINT (oracle); downstream reads it
        # through one CAST-to-double, identical on both engines
        F.expr(
            "sum(CASE WHEN in_s = 1 THEN CAST(yc AS DECIMAL(38,0)) * yc"
            " ELSE 0 END)"
        ).alias("ssq_cents"),
    )
    return m.selectExpr(
        "n_all AS n_rows",
        "n_s AS n_sampled",
        "CAST(exact_cents AS DOUBLE) / 100.0 AS exact_sum",
        f"{_AQP_EST} AS est_sum",
        f"{_AQP_HW} AS ci_halfwidth",
        f"abs({_AQP_EST} - CAST(exact_cents AS DOUBLE) / 100.0)"
        f" <= {_AQP_HW} AS within_ci",
    )


# ---------------------------------------------------------------------------
# capture-recapture population estimation (Lincoln-Petersen / Chapman)
# ---------------------------------------------------------------------------

CAPTURE_PCT = 30  # each frame captures ~30% of units

#: two INDEPENDENT deterministic capture frames: axis-salted md5
#: streams (the spatial-coordinate idiom) so membership in one frame
#: carries no information about the other
_CAP_SPARK = (
    "cast(conv(substring(md5(concat('{salt}:', cast(user_id AS STRING))),"
    f" 1, 15), 16, 10) AS BIGINT) % 100 < {CAPTURE_PCT}"
)
_CAP_SQL = (
    "CAST(('0x' || substr(md5('{salt}:' || CAST(user_id AS VARCHAR)),"
    f" 1, 15)) AS BIGINT) % 100 < {CAPTURE_PCT}"
)

#: estimators, ONE shared text each over exact BIGINT counts. The
#: Chapman form is defined even at m = 0 (its +1s are the point);
#: Lincoln-Petersen needs the m > 0 guard.
_LP_EST = (
    "CASE WHEN m > 0 THEN CAST(n1 AS DOUBLE) * n2 / m ELSE NULL END"
)
_CHAPMAN_EST = (
    "(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - CAST(1.0 AS DOUBLE)"
)

_CAPTURE_ORACLE = f"""
WITH users AS (
    SELECT user_id,
           CASE WHEN {_CAP_SQL.format(salt="c1")} THEN 1 ELSE 0 END AS c1,
           CASE WHEN {_CAP_SQL.format(salt="c2")} THEN 1 ELSE 0 END AS c2
    FROM (SELECT DISTINCT user_id FROM events) u
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(c1) AS BIGINT) AS n1,
           CAST(sum(c2) AS BIGINT) AS n2,
           CAST(sum(c1 * c2) AS BIGINT) AS m
    FROM users
)
SELECT n_true, n1 AS n_capture1, n2 AS n_capture2, m AS n_both,
       {_LP_EST} AS lp_estimate,
       {_CHAPMAN_EST} AS chapman_estimate,
       ({_CHAPMAN_EST} - n_true) / n_true AS chapman_rel_err
FROM m
"""


@register(
    "q_capture_recapture_users",
    oracle=_CAPTURE_ORACLE,
    tags=("estimation", "capture-recapture", "population", "diagnostics"),
)
def q_capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of the distinct-user population from
    two independent deterministic ~{CAPTURE_PCT}% hash frames —
    Lincoln-Petersen n₁n₂/m and the bias-corrected Chapman
    (n₁+1)(n₂+1)/(m+1) − 1 — the classic "how many units does the
    whole system have, given two overlapping partial views" estimator
    (log coverage, crawl frontier size, mark-resight). The fixture
    affords the true count, so the row doubles as a calibration check
    (Chapman relative error reported). Exact BIGINT counts, one shared
    division per estimator, LP guarded NULL at zero overlap.

    100 TB: both frame memberships are map-side flags over one
    distinct-user pass; the estimators run on a single row — and in
    the real use case the full distinct count is exactly what you
    CANNOT afford, which is why the two cheap frames exist."""
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.expr(
                f"CASE WHEN {_CAP_SPARK.format(salt='c1')} THEN 1 ELSE 0 END"
            ).alias("c1"),
            F.expr(
                f"CASE WHEN {_CAP_SPARK.format(salt='c2')} THEN 1 ELSE 0 END"
            ).alias("c2"),
        )
    )
    m = users.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * F.col("c2")).cast("long").alias("m"),
    )
    return m.selectExpr(
        "n_true",
        "n1 AS n_capture1",
        "n2 AS n_capture2",
        "m AS n_both",
        f"{_LP_EST} AS lp_estimate",
        f"{_CHAPMAN_EST} AS chapman_estimate",
        f"({_CHAPMAN_EST} - n_true) / n_true AS chapman_rel_err",
    )


# ---------------------------------------------------------------------------
# vocabulary saturation: Good-Turing unseen mass + Chao1 richness
# ---------------------------------------------------------------------------

#: estimators over the frequency-of-frequencies, ONE shared text each:
#: Good-Turing unseen probability mass P₀ = n₁/N, and the
#: bias-corrected Chao1 richness S_obs + n₁(n₁−1)/(2(n₂+1)) — defined
#: even when no doubletons exist
_GT_P0 = "CAST(n1 AS DOUBLE) / n_tokens"
_CHAO1 = (
    "CAST(s_obs AS DOUBLE)"
    " + CAST(n1 AS DOUBLE) * (n1 - 1) / (CAST(2.0 AS DOUBLE) * (n2 + 1))"
)

_VOCAB_SAT_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents WHERE trim(text) <> ''
),
freq AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
fof AS (
    SELECT CAST(count(*) AS BIGINT) AS s_obs,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
    FROM freq
)
SELECT n_tokens, s_obs AS vocab_observed, n1 AS n_singletons,
       n2 AS n_doubletons,
       {_GT_P0} AS unseen_mass_gt,
       {_CHAO1} AS chao1_richness,
       ({_CHAO1} - s_obs) / s_obs AS unseen_vocab_share
FROM fof
"""


@register(
    "q_vocab_saturation",
    oracle=_VOCAB_SAT_ORACLE,
    tags=("text", "vocabulary", "good-turing", "chao1", "training-data"),
)
def q_vocab_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary saturation diagnostics — "will more data still add
    new words?": the Good-Turing unseen probability mass P₀ = n₁/N
    (the chance the NEXT token is a never-seen word) and the
    bias-corrected Chao1 richness estimate of the TOTAL vocabulary,
    both read off the token frequency-of-frequencies. High P₀ /
    unseen share ⇒ the corpus is still discovering its vocabulary
    (more data pays); near zero ⇒ saturated (more data only re-weights
    known tokens). Same whitespace tokenizer as the NB family; counts
    exact BIGINTs, one shared division per estimator (Chao1's +1 keeps
    it defined with no doubletons).

    100 TB: one token shuffle bounded by the vocabulary, then a
    4-number state — the wordcount scale shape."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.trim(F.col("text")).alias("t"))
        .filter(F.col("t") != "")
        .select(F.explode(F.split("t", r"\s+")).alias("word"))
    )
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    fof = freq.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    return fof.selectExpr(
        "n_tokens",
        "s_obs AS vocab_observed",
        "n1 AS n_singletons",
        "n2 AS n_doubletons",
        f"{_GT_P0} AS unseen_mass_gt",
        f"{_CHAO1} AS chao1_richness",
        f"({_CHAO1} - s_obs) / s_obs AS unseen_vocab_share",
    )
