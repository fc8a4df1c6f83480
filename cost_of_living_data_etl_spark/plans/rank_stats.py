"""Rank and association statistics: Spearman's ρ, Cramér's V, AUC.

The nonparametric association toolkit beside the parametric one
(`q_price_quantity_corr` Pearson, `q_chi2_term_selection` per-term
χ²): Spearman for monotone-not-linear relationships, Cramér's V for
categorical × categorical strength, and ROC-AUC as the threshold-free
read on whether a score separates a binary label — here, whether the
heuristic quality score distinguishes duplicated documents, the
question behind every "filter by quality" curation decision.

Exactness backbone shared by all three: ranks enter as DOUBLED
midranks — ``R2(v) = 2·|{x < v}| + cnt(v) + 1`` — which are exact
BIGINTs even under ties (a midrank like 3.5 becomes 7), so every
moment/rank sum is integer until one final shared float expression.
Rank construction runs on the DISTINCT-VALUE rollup (value, count),
never on raw rows: the cumulative window is bounded by |distinct
values|, and rows only join back to fetch their value's rank.

The two-sample pair, Mann-Whitney U (`q_mann_whitney_order_value`) and
the Hodges-Lehmann shift (`q_hodges_lehmann_uplift`), use the same
doubled midranks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.operators.dedup import (
    _MINHASH_ORACLE,
    minhash_pair_plan,
)
from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.operators.distributed_rank import (
    with_next_key,
    with_prefix_sums,
)
from cost_of_living_data_etl_spark.operators.textstats import quality_score
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# --- Spearman's rho ----------------------------------------------------------

_RHO_EXPR = """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"""

_SPEARMAN_ORACLE = f"""
WITH rows_ AS (
    SELECT l_extendedprice AS x, l_quantity AS y FROM lineitem
),
rx AS (
    SELECT x, 2 * coalesce(sum(cnt) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS r2x
    FROM (SELECT x, count(*) AS cnt FROM rows_ GROUP BY x)
),
ry AS (
    SELECT y, 2 * coalesce(sum(cnt) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS r2y
    FROM (SELECT y, count(*) AS cnt FROM rows_ GROUP BY y)
),
ranked AS (
    SELECT rx.r2x AS r2x, ry.r2y AS r2y
    FROM rows_ r JOIN rx ON r.x = rx.x JOIN ry ON r.y = ry.y
),
m AS (
    SELECT count(*) AS n, sum(r2x) AS sx, sum(r2y) AS sy,
           sum(r2x * r2x) AS sxx, sum(r2y * r2y) AS syy,
           sum(r2x * r2y) AS sxy
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_rows, {_RHO_EXPR} AS spearman_rho FROM m
"""


def _doubled_midranks(rows: DataFrame, col: str, out: str) -> DataFrame:
    """(value, R2) where R2 = 2·|{v < value}| + cnt(value) + 1 — the
    doubled midrank, exact BIGINT under ties, built on the distinct-
    value rollup. The before-count is the distributed prefix scan
    (operators/distributed_rank.py — floor(value) is the monotone
    bucket), so no single task ever sorts the full distinct-value
    frame. The rollup is materialized once (it feeds both the scan's
    bucket rollup and the per-row join)."""
    counts = (
        rows.groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(eager_checkpoint)
    )
    scanned = with_prefix_sums(
        counts, [col], F.floor(F.col(col)), {"cnt": "__before"}
    )
    return scanned.select(
        col,
        (2 * F.col("__before") + F.col("cnt") + 1).alias(out),
    )


@register(
    "q_spearman_price_quantity",
    oracle=_SPEARMAN_ORACLE,
    tags=("statistics", "rank", "correlation"),
)
def q_spearman_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line price and quantity —
    Pearson on the (doubled) midranks. Monotone-but-curved coupling
    that Pearson (`q_price_quantity_corr`) understates shows up here
    at full strength; one wild price can't move it by more than its
    rank step.

    Doubled midranks keep tie handling in exact integers; the six
    moment sums accumulate in int128/decimal headroom (rank² sums
    pass int64 around ~6M rows) and enter ONE shared float expression.

    100 TB: rank construction is per-DISTINCT-value (rollup +
    cumulative window bounded by |values|, rows join back on value);
    beyond memory-bounded distincts, midranks hand over to the
    quantile sketch's CDF (approximate ranks, same formula).
    """
    rows = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x"), F.col("l_quantity").alias("y")
    )
    rx = _doubled_midranks(rows, "x", "r2x")
    ry = _doubled_midranks(rows, "y", "r2y")
    ranked = rows.join(rx, "x").join(ry, "y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ranked.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("r2x")).alias("sx"),
        F.sum(dec("r2y")).alias("sy"),
        F.sum(dec("r2x") * dec("r2x")).alias("sxx"),
        F.sum(dec("r2y") * dec("r2y")).alias("syy"),
        F.sum(dec("r2x") * dec("r2y")).alias("sxy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.expr(_RHO_EXPR).alias("spearman_rho"),
    )


# --- Cramér's V ---------------------------------------------------------------

_CHI2_V_EXPR = """sqrt(
  (chi2) / (CAST(n AS DOUBLE) * least(r - 1, c - 1)))"""

_CRAMER_ORACLE = f"""
WITH cells AS (
    SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS nij
    FROM orders GROUP BY 1, 2
),
tot AS (
    SELECT sum(nij) AS n,
           count(DISTINCT s) AS r, count(DISTINCT p) AS c
    FROM cells
),
margins AS (
    SELECT s, p, nij,
           sum(nij) OVER (PARTITION BY s) AS row_tot,
           sum(nij) OVER (PARTITION BY p) AS col_tot
    FROM cells
),
chi AS (
    -- sum over PRESENT cells of n_ij^2 * n / (row_i * col_j), minus n:
    -- algebraically identical to the (obs-exp)^2/exp sum INCLUDING the
    -- zero cells (each empty cell contributes exactly its expectation).
    -- Sorted-fold (det_sum discipline): the per-cell terms are floats
    -- and a plain sum adds them in partition order
    SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_sort(list(CAST(nij AS DOUBLE) * nij * t.n
                              / (CAST(row_tot AS DOUBLE) * col_tot)))),
               (a, b) -> a + b) - t.n AS chi2,
           t.n AS n, t.r AS r, t.c AS c
    FROM margins, tot t GROUP BY t.n, t.r, t.c
)
SELECT CAST(n AS BIGINT) AS n_orders, CAST(r AS BIGINT) AS n_status,
       CAST(c AS BIGINT) AS n_priorities, chi2, {_CHI2_V_EXPR} AS cramers_v
FROM chi
"""


@register(
    "q_cramers_v_status_priority",
    oracle=_CRAMER_ORACLE,
    tags=("statistics", "association", "categorical"),
)
def q_cramers_v_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between order status and priority: the [0, 1]
    association strength for a categorical pair (χ² normalized by
    n·min(r−1, c−1)) — the "is this dimension redundant?" screen run
    before building composite segment keys.

    Zero cells handled algebraically: Σ(obs−exp)²/exp over ALL r×c
    cells equals Σ n²ᵢⱼ·n/(rowᵢ·colⱼ) − n over PRESENT cells, so no
    missing-cell enumeration; every input to the shared float
    expression is an exact BIGINT count.

    100 TB: one partial-aggregated pass to |r×c| cells; margins are
    windows over those cells, not rows.
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    margins = cells.select(
        "s",
        "p",
        "nij",
        F.sum("nij").over(Window.partitionBy("s")).alias("row_tot"),
        F.sum("nij").over(Window.partitionBy("p")).alias("col_tot"),
    )
    tot = cells.groupBy().agg(
        F.sum("nij").alias("n"),
        F.count_distinct("s").alias("r"),
        F.count_distinct("p").alias("c"),
    )
    chi = (
        margins.crossJoin(F.broadcast(tot))
        .groupBy("n", "r", "c")
        .agg(
            (
                det_sum(
                    "CAST(nij AS DOUBLE) * nij * n"
                    " / (CAST(row_tot AS DOUBLE) * col_tot)"
                )
                - F.col("n")
            ).alias("chi2")
        )
    )
    return chi.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("r").cast("long").alias("n_status"),
        F.col("c").cast("long").alias("n_priorities"),
        "chi2",
        F.expr(_CHI2_V_EXPR).alias("cramers_v"),
    )


# --- AUC: quality score vs duplicate membership ------------------------------

# the quality formula's DuckDB mirror is single-sourced in corpus_prep
# (built from textstats.STOPWORDS_EN) — a hand-copied list here would
# drift silently (review finding: this file originally pasted one)
from cost_of_living_data_etl_spark.plans.corpus_prep import (  # noqa: E402
    _QUALITY_SQL as _CP_QUALITY_SQL,
)

_QUALITY_SQL = f"({_CP_QUALITY_SQL})"

_AUC_ORACLE = f"""
WITH pairs AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ( {{minhash}} )
),
dup_ids AS (
    SELECT doc_id_1 AS doc_id FROM pairs
    UNION SELECT doc_id_2 FROM pairs
),
scored AS (
    SELECT {_QUALITY_SQL} AS score,
           CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM documents LEFT JOIN dup_ids d ON documents.doc_id = d.doc_id
),
vals AS (
    SELECT score, count(*) AS cnt, sum(is_dup) AS cnt_pos
    FROM scored GROUP BY score
),
r AS (
    SELECT score, cnt, cnt_pos,
           2 * coalesce(sum(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS r2
    FROM vals
),
agg AS (
    SELECT sum(cnt_pos * r2) AS sr2_pos,
           sum(cnt_pos) AS n1, sum(cnt - cnt_pos) AS n0
    FROM r
)
SELECT CAST(n1 AS BIGINT) AS n_dup, CAST(n0 AS BIGINT) AS n_unique,
       CASE WHEN n1 > 0 AND n0 > 0 THEN
           CAST(sr2_pos - n1 * (n1 + 1) AS DOUBLE)
             / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))
       END AS auc
FROM agg
"""


@register(
    "q_auc_quality_dup",
    oracle=_AUC_ORACLE.format(minhash=_MINHASH_ORACLE),
    tags=("statistics", "rank", "curation-eval"),
)
def q_auc_quality_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the heuristic quality score against NEAR-duplicate
    membership (docs appearing in any MinHash-LSH verified pair): the
    threshold-free answer to "does the quality filter also separate
    boilerplate copies?" — AUC ≈ 0.5 means quality and duplication are
    orthogonal signals worth BOTH pipeline stages; AUC far from 0.5
    means one filter is partially doing the other's job.

    AUC computed by the Mann-Whitney rank-sum identity on doubled
    midranks: AUC = (ΣR2₊ − n₁(n₁+1)) / (2·n₁·n₀) — every term an
    exact BIGINT until the single final division (NULL when either
    class is empty — the degenerate-label guard). Tie groups key on
    the exact score double, which both engines compute from the same
    shared expression (the `q_text_quality_by_source` parity fragment).

    100 TB: one text pass for score; the dup label is a LEFT join
    against the (small) LSH pair-id set; the distinct-score rollup
    carries the rank window; text never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    dup_ids = (
        pairs.select(F.col("doc_id_1").alias("doc_id"))
        .union(pairs.select(F.col("doc_id_2")))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        docs.join(dup_ids, "doc_id", "left")
        .select(
            quality_score(F.col("text")).alias("score"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("is_dup"),
        )
    )
    vals = (
        scored.groupBy("score")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("is_dup").alias("cnt_pos"))
        .transform(eager_checkpoint)  # LSH pair plan + text pass run once
    )
    # distributed prefix scan over the distinct-score rollup (scores
    # live in [0,1], so floor(score*4096) is the monotone bucket)
    r = with_prefix_sums(
        vals,
        ["score"],
        F.floor(F.col("score") * 4096),
        {"cnt": "__before"},
    ).select(
        "cnt",
        "cnt_pos",
        (2 * F.col("__before") + F.col("cnt") + 1).alias("r2"),
    )
    agg = r.groupBy().agg(
        F.sum(F.col("cnt_pos") * F.col("r2")).alias("sr2_pos"),
        F.sum("cnt_pos").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_pos")).alias("n0"),
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_dup"),
        F.col("n0").cast("long").alias("n_unique"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            (F.col("sr2_pos") - F.col("n1") * (F.col("n1") + 1)).cast(
                "double"
            )
            / (2.0 * F.col("n1").cast("double") * F.col("n0").cast("double")),
        ).alias("auc"),
    )


# --- Kolmogorov-Smirnov two-sample test --------------------------------------

_KS_ORACLE = """
WITH v AS (
    SELECT o_totalprice AS val, o_custkey % 2 AS arm FROM orders
),
tot AS (
    SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS na,
           sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nb
    FROM v
),
cells AS (
    SELECT val,
           sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS ca,
           sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS cb
    FROM v GROUP BY val
),
walk AS (
    SELECT sum(ca) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cuma,
           sum(cb) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cumb
    FROM cells
),
m AS (
    SELECT max(abs(cuma * t.nb - cumb * t.na)) AS scaled_d, t.na, t.nb
    FROM walk, tot t GROUP BY t.na, t.nb
)
SELECT CAST(na AS BIGINT) AS n_treat, CAST(nb AS BIGINT) AS n_control,
       CAST(scaled_d AS DOUBLE) / (CAST(na AS DOUBLE) * nb) AS ks_d,
       sqrt(CAST(na AS DOUBLE) * nb / (na + nb))
         * (CAST(scaled_d AS DOUBLE) / (CAST(na AS DOUBLE) * nb)) AS ks_stat
FROM m
"""


@register(
    "q_ks_two_sample",
    oracle=_KS_ORACLE,
    tags=("statistics", "nonparametric", "distribution"),
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the arms'
    order-value distributions: D = sup |F̂₁ − F̂₂| — the whole-
    distribution divergence check behind `q_ab_test_welch`'s
    mean-only comparison (equal means with different shapes is
    exactly what KS catches and a t-test can't).

    Division-free until the end: the ECDF gap at value v is
    |cumA·nB − cumB·nA| / (nA·nB), so the supremum maximizes the
    EXACT INTEGER numerator over the pooled distinct-value walk —
    no float comparisons decide anything; one division and one
    shared sqrt expression produce the outputs.

    100 TB: per-(value, arm) counts partial-aggregate; the cumulative
    walk runs over |distinct values|; beyond memory-bounded distincts
    the sketch CDF takes over with bounded error.
    """
    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("val"),
        (F.col("o_custkey") % 2).alias("arm"),
    )
    cells = (
        v.groupBy("val")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("cb"),
        )
        .transform(eager_checkpoint)  # rollup scanned twice by the walk
    )
    # arm totals are exact-integer sums of the rollup's own counts —
    # derived from the checkpointed cells instead of a second full
    # orders scan (round 9, one base-table pass instead of two)
    tot = cells.groupBy().agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    # distributed ECDF walk: exclusive prefix sums + own cell counts
    # (floor(val) is the monotone bucket over order values)
    walk = with_prefix_sums(
        cells,
        ["val"],
        F.floor(F.col("val")),
        {"ca": "__ba", "cb": "__bb"},
    ).select(
        (F.col("__ba") + F.col("ca")).alias("cuma"),
        (F.col("__bb") + F.col("cb")).alias("cumb"),
    )
    m = (
        walk.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
                )
            ).alias("scaled_d")
        )
    )
    return m.select(
        F.col("na").cast("long").alias("n_treat"),
        F.col("nb").cast("long").alias("n_control"),
        F.expr(
            "CAST(scaled_d AS DOUBLE) / (CAST(na AS DOUBLE) * nb)"
        ).alias("ks_d"),
        F.expr(
            "sqrt(CAST(na AS DOUBLE) * nb / (na + nb))"
            " * (CAST(scaled_d AS DOUBLE) / (CAST(na AS DOUBLE) * nb))"
        ).alias("ks_stat"),
    )


# --- quantile treatment effects ----------------------------------------------

QTE_PS = (50, 90)

_QTE_ORACLE = f"""
WITH v AS (
    SELECT o_totalprice AS val, o_custkey % 2 AS arm FROM orders
),
cells AS (SELECT arm, val, count(*) AS cnt FROM v GROUP BY 1, 2),
r AS (
    SELECT arm, val,
           sum(cnt) OVER (PARTITION BY arm ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER (PARTITION BY arm) AS n
    FROM cells
),
one AS MATERIALIZED (
    -- ONE row: every (arm, p) quantile is a conditional min over the
    -- same cumulative walk — no per-branch recompute, no self-join
    SELECT
        {", ".join(
            f"min(CASE WHEN arm = {a} AND cum >= CAST(ceil("
            f"CAST(0.{p} AS DOUBLE) * n) AS BIGINT) THEN val END)"
            f" AS {t}{p}"
            for p in QTE_PS for a, t in ((1, "t"), (0, "c"))
        )}
    FROM r
)
{" UNION ALL ".join(
    f"SELECT CAST({p} AS BIGINT) AS p, t{p} AS q_treat,"
    f" c{p} AS q_control, t{p} - c{p} AS qte FROM one"
    for p in QTE_PS
)}
ORDER BY p
"""


@register(
    "q_quantile_treatment_effects",
    oracle=_QTE_ORACLE,
    tags=("causal", "quantiles", "ab-test"),
)
def q_quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects at p50 and p90: the per-quantile
    difference between the arms' order-value distributions — WHERE in
    the distribution an effect lives (a treatment that lifts the tail
    but not the median shows qte(90) ≫ qte(50); the mean-difference
    family — Welch, DiD — averages that away).

    Each quantile is the exact lower order statistic at ceil(p·n)
    from the per-arm value rollup (smallest value whose cumulative
    count reaches the rank) — selections, so qte is a difference of
    two data elements, bit-identical cross-engine.

    100 TB: per-(arm, value) partial agg; cumulative windows per arm
    over distinct values; the sketch CDF replaces exact ranks beyond
    memory-bounded distincts.
    """
    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("val"),
        (F.col("o_custkey") % 2).alias("arm"),
    )
    cells = v.groupBy("arm", "val").agg(F.count(F.lit(1)).alias("cnt"))
    run = Window.partitionBy("arm").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    whole = Window.partitionBy("arm")
    r = cells.select(
        "arm",
        "val",
        F.sum("cnt").over(run).alias("cum"),
        F.sum("cnt").over(whole).alias("n"),
    )
    # ONE single-row aggregation computes every (arm, p) quantile as a
    # conditional min over the same cumulative walk, then stack()
    # unpivots to output rows — no per-branch recompute, no self-join
    # (the union-of-branches draft re-ran the windows per branch)
    one = r.groupBy().agg(
        *[
            F.min(
                F.when(
                    (F.col("arm") == a)
                    & (
                        F.col("cum")
                        >= F.ceil(
                            F.expr(f"CAST(0.{p} AS DOUBLE)") * F.col("n")
                        ).cast("long")
                    ),
                    F.col("val"),
                )
            ).alias(f"{t}{p}")
            for p in QTE_PS
            for a, t in ((1, "t"), (0, "c"))
        ]
    )
    stack_args = ", ".join(
        f"CAST({p} AS BIGINT), t{p}, c{p}, t{p} - c{p}" for p in QTE_PS
    )
    return one.select(
        F.expr(
            f"stack({len(QTE_PS)}, {stack_args})"
            " AS (p, q_treat, q_control, qte)"
        )
    ).orderBy("p")


# --- exact 1-D Wasserstein distance ------------------------------------------

_W1_ORACLE = """
WITH v AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           o_custkey % 2 AS arm
    FROM orders
),
tot AS (
    SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS na,
           sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nb
    FROM v
),
cells AS (
    SELECT cents,
           sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS ca,
           sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS cb
    FROM v GROUP BY cents
),
walk AS (
    SELECT cents,
           sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cuma,
           sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cumb,
           lead(cents) OVER (ORDER BY cents) AS next_cents
    FROM cells
),
s AS (
    SELECT sum(abs(cuma * t.nb - cumb * t.na)
               * coalesce(next_cents - cents, 0)) AS area,
           t.na, t.nb
    FROM walk, tot t
    GROUP BY t.na, t.nb
)
SELECT CAST(na AS BIGINT) AS n_treat,
       CAST(nb AS BIGINT) AS n_control,
       CAST(area AS DOUBLE)
         / (CAST(na AS DOUBLE) * nb * 100.0) AS w1_distance
FROM s
"""


@register(
    "q_wasserstein_arm_shift",
    oracle=_W1_ORACLE,
    tags=("statistics", "nonparametric", "distribution", "wasserstein"),
)
def q_wasserstein_arm_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between the arms'
    order-value distributions: W₁ = ∫|F̂₁ − F̂₂| dx — the INTEGRAL
    companion to `q_ks_two_sample`'s supremum. KS answers "is there a
    difference anywhere"; W₁ answers "HOW MUCH value moved" in price
    units (it is the mean transport cost), which makes it the effect-
    SIZE readout for distribution shift — a tail-only shift that KS
    barely sees accumulates its full mass here.

    Same division-free discipline as KS, extended through the
    integral: the scaled gap |cumA·nB − cumB·nA| times the exact cent
    gap to the next distinct value is a pure BIGINT per step, and the
    area sums in DECIMAL headroom (HUGEINT on the oracle side) — the
    whole statistic is exact integer arithmetic until ONE final
    division, so no fold-order discipline is even needed. Scale shape
    identical to KS: per-(cents, arm) partial aggregate, one walk over
    |distinct values|.
    """
    v = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.col("o_custkey") % 2).alias("arm"),
    )
    cells = (
        v.groupBy("cents")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("cb"),
        )
        .transform(eager_checkpoint)  # walk + next-key both read it twice
    )
    # arm totals are exact-integer sums of the rollup's own counts —
    # derived from the checkpointed cells instead of a second full
    # orders scan (round 9, one base-table pass instead of two)
    tot = cells.groupBy().agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    # distributed ECDF walk + distributed lead(cents): prefix sums and
    # next-distinct-key both via the bucketed scan (cents div 4096 is
    # the monotone bucket), no single-partition window
    bucket = F.floor(F.col("cents") / F.lit(4096))
    walk = with_next_key(
        with_prefix_sums(
            cells, ["cents"], bucket, {"ca": "__ba", "cb": "__bb"}
        ),
        "cents",
        bucket,
        out_col="next_cents",
    ).select(
        "cents",
        (F.col("__ba") + F.col("ca")).alias("cuma"),
        (F.col("__bb") + F.col("cb")).alias("cumb"),
        "next_cents",
    )
    s = (
        walk.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.sum(
                (
                    F.abs(
                        F.col("cuma") * F.col("nb")
                        - F.col("cumb") * F.col("na")
                    )
                    * F.coalesce(
                        F.col("next_cents") - F.col("cents"), F.lit(0)
                    )
                ).cast("decimal(38,0)")
            ).alias("area")
        )
    )
    return s.select(
        F.col("na").cast("long").alias("n_treat"),
        F.col("nb").cast("long").alias("n_control"),
        F.expr(
            "CAST(area AS DOUBLE) / (CAST(na AS DOUBLE) * nb * 100.0)"
        ).alias("w1_distance"),
    )


# --- isotonic calibration: dup probability vs quality score ------------------

#: fixed-width score bins over quality ∈ [0,1]; 20 keeps the PAVA grid
#: constant-size (≤20 rows of state) at any corpus size.
ISO_BINS = 20

#: shared float fragments — executed verbatim on both engines so the
#: single division per value is bit-identical (see AUC/Spearman above).
_ISO_BIN_EXPR = "least({top}, CAST(floor(({q}) * {b}) AS BIGINT))"
_ISO_MEAN_EXPR = "CAST({cpj} - {cpi} AS DOUBLE) / ({cnj} - {cni})"
_ISO_RATE_EXPR = "CAST(pos AS DOUBLE) / n"

_ISO_ORACLE = f"""
WITH pairs_ AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ( {{minhash}} )
),
dup_ids AS (
    SELECT doc_id_1 AS doc_id FROM pairs_
    UNION SELECT doc_id_2 FROM pairs_
),
scored AS (
    SELECT {_ISO_BIN_EXPR.format(top=ISO_BINS - 1, q=_QUALITY_SQL, b=ISO_BINS)}
             AS bin,
           CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM documents LEFT JOIN dup_ids d ON documents.doc_id = d.doc_id
),
binned AS (
    SELECT bin, count(*) AS n, sum(is_dup) AS pos FROM scored GROUP BY bin
),
idx AS (
    SELECT bin, n, pos, row_number() OVER (ORDER BY bin) AS r FROM binned
),
pre AS (
    SELECT r, sum(n) OVER (ORDER BY r) AS cn,
              sum(pos) OVER (ORDER BY r) AS cp
    FROM idx
),
pre0 AS (SELECT * FROM pre UNION ALL SELECT 0, 0, 0),
pairs AS (
    SELECT a.r + 1 AS i, b.r AS j,
           {_ISO_MEAN_EXPR.format(cpj="b.cp", cpi="a.cp",
                                  cnj="b.cn", cni="a.cn")} AS m
    FROM pre0 a JOIN pre b ON a.r < b.r
),
inner_ AS (
    SELECT k.r AS k, p.i, max(p.m) AS mx
    FROM pairs p JOIN idx k ON p.i <= k.r AND p.j >= k.r
    GROUP BY 1, 2
),
fit AS (SELECT k, min(mx) AS iso FROM inner_ GROUP BY k)
SELECT CAST(idx.bin AS BIGINT) AS bin,
       CAST(idx.n AS BIGINT) AS n_docs,
       {_ISO_RATE_EXPR} AS raw_dup_rate,
       fit.iso AS iso_dup_rate
FROM idx JOIN fit ON fit.k = idx.r
"""


def antitonic_fit(binned: DataFrame) -> DataFrame:
    """Weighted antitonic (nonincreasing) L2 isotonic regression of the
    per-bin positive rate ``pos/n`` over the ``bin`` order — classic
    pool-adjacent-violators, computed by the closed-form min-max
    identity ``f[k] = min_{i<=k} max_{j>=k} mean(y[i..j])`` instead of
    the sequential PAVA sweep, so it is pure joins over the
    constant-size bin grid (m ≤ ISO_BINS ⇒ ≤ m² pair means, ≤ m³ grid
    tuples — driver-free and engine-portable). min/max are
    order-independent, so unlike sum folds this needs no ordering
    discipline for cross-engine parity; each pair mean is ONE division
    of exact BIGINT prefix-sum deltas.

    Input: (bin, n, pos). Output: (bin, n, pos, raw rate, iso rate).
    """
    # The ≤ISO_BINS-row grid feeds FOUR plan branches (pre → pre0 and
    # the pair join's b side, the k probe, the final join) — without
    # materialization each branch re-derived the caller's WHOLE
    # upstream (for the isotonic query: the LSH pair chain + quality
    # text pass, 4×). One eager checkpoint of the constant-size grid
    # collapses that to a single derivation (the dedup-signature
    # idiom).
    idx = binned.withColumn(
        "r", F.row_number().over(Window.orderBy("bin"))
    ).transform(eager_checkpoint)
    run = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    pre = idx.select(
        "r", F.sum("n").over(run).alias("cn"), F.sum("pos").over(run).alias("cp")
    )
    pre0 = pre.unionByName(
        pre.sparkSession.range(1).select(
            F.lit(0).cast("int").alias("r"),
            F.lit(0).cast("bigint").alias("cn"),
            F.lit(0).cast("bigint").alias("cp"),
        )
    )
    a, b = pre0.alias("a"), pre.alias("b")
    pairs = a.join(b, F.col("a.r") < F.col("b.r")).select(
        (F.col("a.r") + 1).alias("i"),
        F.col("b.r").alias("j"),
        F.expr(
            _ISO_MEAN_EXPR.format(cpj="b.cp", cpi="a.cp", cnj="b.cn", cni="a.cn")
        ).alias("m"),
    )
    k = idx.select(F.col("r").alias("k"))
    inner = (
        pairs.join(
            F.broadcast(k),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("k", "i")
        .agg(F.max("m").alias("mx"))
    )
    fit = inner.groupBy("k").agg(F.min("mx").alias("iso"))
    return idx.join(fit, idx.r == fit.k).select(
        "bin",
        "n",
        "pos",
        F.expr(_ISO_RATE_EXPR).alias("raw_rate"),
        F.col("iso").alias("iso_rate"),
    )


@register(
    "q_isotonic_calibration_quality_dup",
    oracle=_ISO_ORACLE.format(minhash=_MINHASH_ORACLE),
    tags=("statistics", "calibration", "isotonic", "curation-eval"),
)
def q_isotonic_calibration_quality_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic calibration curve of NEAR-duplicate probability as a
    function of the heuristic quality score: the AUC companion that
    turns "does quality separate dups?" (q_auc_quality_dup, same
    MinHash-LSH pair label) into a usable calibrated mapping
    score-bin → P(dup), with monotonicity (lower quality ⇒ no lower
    dup rate) ENFORCED by weighted pool-adjacent-violators — the raw
    per-bin rates are noisy at the tails, and a threshold picked off
    a non-monotone curve flaps. Fit is antitonic (nonincreasing in
    quality) via the min-max identity over ≤ ISO_BINS fixed-width
    bins; see ``antitonic_fit``.

    100 TB: one text pass computes the quality score map-side — text
    never enters an Exchange; the dup label is a LEFT join against
    the (small) LSH pair-id set; everything after the bin rollup is a
    ≤20-row constant-size grid no matter the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    dup_ids = (
        pairs.select(F.col("doc_id_1").alias("doc_id"))
        .union(pairs.select(F.col("doc_id_2")))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        docs.join(dup_ids, "doc_id", "left")
        .select(
            quality_score(F.col("text")).alias("q"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("is_dup"),
        )
        .select(
            F.expr(
                _ISO_BIN_EXPR.format(top=ISO_BINS - 1, q="q", b=ISO_BINS)
            ).alias("bin"),
            "is_dup",
        )
    )
    binned = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_dup").alias("pos")
    )
    return antitonic_fit(binned).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n_docs"),
        F.col("raw_rate").alias("raw_dup_rate"),
        F.col("iso_rate").alias("iso_dup_rate"),
    )


# --- Brier score + Murphy decomposition --------------------------------------

#: shared fragments: risk score (quality is in [0,1], so 1-q is a
#: probability-shaped dup-risk prediction), per-row squared error,
#: and the bin id over the SAME ISO_BINS fixed-width grid as the
#: isotonic query (binned by the PREDICTION p, as Murphy requires)
_BRIER_SQERR = "(p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE))"

_BRIER_ORACLE = f"""
WITH pairs_ AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ( {{minhash}} )
),
dup_ids AS (
    SELECT doc_id_1 AS doc_id FROM pairs_
    UNION SELECT doc_id_2 FROM pairs_
),
scored AS (
    SELECT CAST(1.0 AS DOUBLE) - ({_QUALITY_SQL}) AS p,
           CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS y
    FROM documents LEFT JOIN dup_ids d ON documents.doc_id = d.doc_id
),
per_bin AS (
    SELECT {_ISO_BIN_EXPR.format(top=ISO_BINS - 1, q="p", b=ISO_BINS)} AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS pos,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_sort(list(p))), (a, b) -> a + b) AS p_sum
    FROM scored GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS npos,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_sort(list({_BRIER_SQERR}))), (a, b) -> a + b) AS sq_sum
    FROM scored
),
comps AS (
    SELECT t.nn, t.npos, t.sq_sum,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(
               n * (p_sum / n - CAST(pos AS DOUBLE) / n)
                 * (p_sum / n - CAST(pos AS DOUBLE) / n)))),
               (a, b) -> a + b) AS rel_sum,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(
               n * (CAST(pos AS DOUBLE) / n - CAST(t.npos AS DOUBLE) / t.nn)
                 * (CAST(pos AS DOUBLE) / n - CAST(t.npos AS DOUBLE) / t.nn)))),
               (a, b) -> a + b) AS res_sum
    FROM per_bin, tot t
    GROUP BY t.nn, t.npos, t.sq_sum
)
SELECT CAST(nn AS BIGINT) AS n_docs,
       CAST(npos AS DOUBLE) / nn AS base_rate,
       sq_sum / nn AS brier,
       rel_sum / nn AS reliability,
       res_sum / nn AS resolution,
       (CAST(npos AS DOUBLE) / nn) * (CAST(1.0 AS DOUBLE)
           - CAST(npos AS DOUBLE) / nn) AS uncertainty,
       sq_sum / nn - (rel_sum / nn - res_sum / nn
           + (CAST(npos AS DOUBLE) / nn) * (CAST(1.0 AS DOUBLE)
              - CAST(npos AS DOUBLE) / nn)) AS within_bin_gap
FROM comps
"""


def brier_murphy(scored: DataFrame) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score of (p, y) rows
    over the fixed ISO_BINS prediction grid: BS = REL − RES + UNC +
    within-bin dispersion. REL (reliability, lower better) penalizes
    bins whose mean prediction p̄ₖ misses the observed rate ȳₖ; RES
    (resolution, higher better) rewards bins whose rates differ from
    the base rate; UNC = ȳ(1−ȳ) is the data's irreducible floor. The
    textbook identity is exact only when p is constant within a bin,
    so the residual is REPORTED (`within_bin_gap` = mean within-bin
    variance of p, ≥ 0) instead of silently absorbed. All counts
    exact BIGINTs; every float sum a det_sum fold of shared text."""
    binned = scored.groupBy(
        F.expr(_ISO_BIN_EXPR.format(top=ISO_BINS - 1, q="p", b=ISO_BINS)).alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        det_sum("p").alias("p_sum"),
    )
    tot = scored.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("y").cast("long").alias("npos"),
        det_sum(_BRIER_SQERR).alias("sq_sum"),
    )
    comps = (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("nn", "npos", "sq_sum")
        .agg(
            det_sum(
                "n * (p_sum / n - CAST(pos AS DOUBLE) / n)"
                " * (p_sum / n - CAST(pos AS DOUBLE) / n)"
            ).alias("rel_sum"),
            det_sum(
                "n * (CAST(pos AS DOUBLE) / n - CAST(npos AS DOUBLE) / nn)"
                " * (CAST(pos AS DOUBLE) / n - CAST(npos AS DOUBLE) / nn)"
            ).alias("res_sum"),
        )
    )
    return comps.selectExpr(
        "CAST(nn AS BIGINT) AS n_docs",
        "CAST(npos AS DOUBLE) / nn AS base_rate",
        "sq_sum / nn AS brier",
        "rel_sum / nn AS reliability",
        "res_sum / nn AS resolution",
        "(CAST(npos AS DOUBLE) / nn) * (CAST(1.0 AS DOUBLE)"
        " - CAST(npos AS DOUBLE) / nn) AS uncertainty",
        "sq_sum / nn - (rel_sum / nn - res_sum / nn"
        " + (CAST(npos AS DOUBLE) / nn) * (CAST(1.0 AS DOUBLE)"
        " - CAST(npos AS DOUBLE) / nn)) AS within_bin_gap",
    )


@register(
    "q_brier_murphy_quality_dup",
    oracle=_BRIER_ORACLE.format(minhash=_MINHASH_ORACLE),
    tags=("statistics", "calibration", "brier", "curation-eval"),
)
def q_brier_murphy_quality_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + Murphy decomposition of the dup-risk prediction
    p = 1 − quality against near-duplicate membership (same MinHash-
    LSH label and bin grid as `q_isotonic_calibration_quality_dup`):
    completes the calibration triad — AUC answers "does the score
    RANK dups higher?", the isotonic curve answers "what probability
    does each score level MEAN?", and the Murphy components answer
    "how much of the squared-error loss is miscalibration (REL) vs
    lost sharpness (RES) vs the irreducible base-rate floor (UNC)?" —
    the decision inputs for whether to recalibrate the filter or
    retrain it. See `brier_murphy` for the exactness contract.

    100 TB: one text pass map-side (score + squared error), the dup
    label a broadcast-sized LSH pair-id join, then a ≤20-row grid —
    the isotonic query's exact scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    dup_ids = (
        pairs.select(F.col("doc_id_1").alias("doc_id"))
        .union(pairs.select(F.col("doc_id_2")))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        docs.join(dup_ids, "doc_id", "left")
        .select(
            (
                F.expr("CAST(1.0 AS DOUBLE)") - quality_score(F.col("text"))
            ).alias("p"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("y"),
        )
        # brier_murphy reads scored TWICE (per-bin rollup + global
        # det_sum of squared errors — the two groupings can't fold into
        # one pass without breaking the sorted-fold float contract), so
        # materialize the narrow (p, y) frame: the LSH pair chain and
        # the quality text pass run once, not per branch (round-9
        # interleaved A/B: med 3.55 -> 3.20 s)
        .transform(eager_checkpoint)
    )
    return brier_murphy(scored)


# --------------------------------------------------------------------------
# Mann-Whitney U with midranks + tie correction
# --------------------------------------------------------------------------

MW_GROUP_X = "1-URGENT"
MW_GROUP_Y = "5-LOW"

_MW_ORACLE = f"""
WITH v AS (
    SELECT round(o_totalprice, 2) AS val,
           CAST(count(*) FILTER (WHERE o_orderpriority = '{MW_GROUP_X}') AS BIGINT) AS cx,
           CAST(count(*) FILTER (WHERE o_orderpriority = '{MW_GROUP_Y}') AS BIGINT) AS cy
    FROM orders
    WHERE o_orderpriority IN ('{MW_GROUP_X}', '{MW_GROUP_Y}')
    GROUP BY 1
),
scanned AS (
    SELECT val, cx, cy, cx + cy AS cnt,
           CAST(coalesce(sum(cx + cy) OVER (
               ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cb
    FROM v
),
agg AS (
    SELECT CAST(sum(cx) AS BIGINT) AS nx,
           CAST(sum(cy) AS BIGINT) AS ny,
           CAST(sum(cx * (2 * cb + cnt + 1)) AS BIGINT) AS r2x,
           CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT)   AS ties
    FROM scanned
)
SELECT nx, ny,
       (r2x - nx * (nx + 1)) / 2.0 AS u_stat,
       ((r2x - nx * (nx + 1)) / 2.0 - nx * ny / 2.0)
       / sqrt(nx * ny / 12.0
              * ((nx + ny + 1) - ties / (CAST(nx + ny AS DOUBLE) * (nx + ny - 1))))
           AS z_score
FROM agg
"""


@register(
    "q_mann_whitney_order_value",
    oracle=_MW_ORACLE,
    tags=("statistics", "nonparametric", "ab", "distributed-rank"),
)
def q_mann_whitney_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do URGENT orders carry larger
    values than LOW ones, without assuming normality (the
    nonparametric companion to q_ab_test_welch; robust to the heavy
    right tail of money amounts). Midranks handle ties exactly; the
    z-score uses the tie-corrected variance.

    Exactness: ranks never materialize per row — the rollup groups by
    the money-grid value with per-group (cx, cy) counts, the rank-sum
    is the DOUBLED-midrank identity 2·Rx = Σ cx·(2·cum_before+cnt+1)
    (every term BIGINT), and cum_before is an exclusive prefix sum
    over value order (operators/distributed_rank.py — no single-task
    window over the |distinct values| frame). U, μ, σ, z are single
    double divisions of exact integers, structured identically in the
    oracle.

    Scale: one shuffle to the value rollup (map-side combined), the
    prefix-sum primitive's bounded exchanges, then a 1-row aggregate.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_prefix_sums,
    )

    orders = load_table(spark, sf_dir, "orders")
    v = (
        orders.filter(F.col("o_orderpriority").isin(MW_GROUP_X, MW_GROUP_Y))
        .groupBy(F.round("o_totalprice", 2).alias("val"))
        .agg(
            F.sum((F.col("o_orderpriority") == MW_GROUP_X).cast("long")).alias("cx"),
            F.sum((F.col("o_orderpriority") == MW_GROUP_Y).cast("long")).alias("cy"),
        )
        .withColumn("cnt", F.col("cx") + F.col("cy"))
    )
    # /1024 bucket grid: floor(val) is ~one bucket per distinct money
    # value (rollup as large as the frame); coarser stays monotone
    scanned = with_prefix_sums(
        v, ["val"], F.floor(F.col("val") / F.lit(1024.0)), {"cnt": "cb"}
    )
    agg = scanned.groupBy().agg(
        F.sum("cx").cast("long").alias("nx"),
        F.sum("cy").cast("long").alias("ny"),
        F.sum(F.col("cx") * (2 * F.col("cb") + F.col("cnt") + 1))
        .cast("long")
        .alias("r2x"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties"),
    )
    u = (F.col("r2x") - F.col("nx") * (F.col("nx") + 1)) / F.lit(2.0)
    mu = F.col("nx") * F.col("ny") / F.lit(2.0)
    sigma = F.sqrt(
        F.col("nx") * F.col("ny") / F.lit(12.0)
        * (
            (F.col("nx") + F.col("ny") + 1)
            - F.col("ties")
            / (
                (F.col("nx") + F.col("ny")).cast("double")
                * (F.col("nx") + F.col("ny") - 1)
            )
        )
    )
    return agg.select(
        "nx",
        "ny",
        u.alias("u_stat"),
        ((u - mu) / sigma).alias("z_score"),
    )


# --------------------------------------------------------------------------
# Hodges-Lehmann shift estimate (median of pairwise differences)
# --------------------------------------------------------------------------

_HL_ORACLE = f"""
WITH dx AS (
    SELECT date_trunc('day', o_orderdate) AS d, round(sum(o_totalprice), 2) AS r
    FROM orders WHERE o_orderpriority = '{MW_GROUP_X}' GROUP BY 1
),
dy AS (
    SELECT date_trunc('day', o_orderdate) AS d, round(sum(o_totalprice), 2) AS r
    FROM orders WHERE o_orderpriority = '{MW_GROUP_Y}' GROUP BY 1
),
diffs AS (SELECT dx.r - dy.r AS diff FROM dx CROSS JOIN dy),
ranked AS (
    SELECT diff,
           row_number() OVER (ORDER BY diff) AS rk,
           count(*) OVER () AS n
    FROM diffs
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       diff              AS hl_shift
FROM ranked WHERE rk = (n + 1) // 2
"""


@register(
    "q_hodges_lehmann_uplift",
    oracle=_HL_ORACLE,
    tags=("statistics", "robust", "ab", "distributed-rank"),
)
def q_hodges_lehmann_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift: the median of ALL pairwise differences
    between URGENT and LOW daily revenues — the robust "how much
    bigger" companion to the Mann-Whitney "is it bigger" test
    (outlier days cannot move it, unlike a difference of means).

    Exactness: the q_theilsen_revenue_trend selection discipline —
    bare money-grid doubles ride the scan (ties share the VALUE and
    only the value is emitted, so tiebreak columns are unnecessary),
    the lower median is an exact order statistic from the distributed
    zipWithIndex, and n comes free from its per-bucket rollup.

    Scale honesty: the pair frame is |days_x|·|days_y| — calendar² (a
    7-year corpus ⇒ ~6M pairs over the DAILY rollups), invariant in
    row count; the median selection is bucket-partitioned, so no task
    holds the pair frame.
    """
    from cost_of_living_data_etl_spark.functions.checkpoints import (
        eager_checkpoint,
    )
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        select_global_ranks,
    )

    orders = load_table(spark, sf_dir, "orders")

    def daily(priority: str, out: str) -> DataFrame:
        # materialized: the position helper reads the pair frame twice
        # (bucket rollup + position join); without the checkpoint each
        # read re-runs BOTH full orders scans + aggregates underneath
        # the cross join (measured 21 s -> ~6 s at sf0.1)
        return (
            orders.filter(F.col("o_orderpriority") == priority)
            .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias(out))
            .transform(eager_checkpoint)
        )

    diffs = (
        daily(MW_GROUP_X, "rx")
        .crossJoin(daily(MW_GROUP_Y, "ry"))
        .select((F.col("rx") - F.col("ry")).alias("diff"))
    )
    # bucket on the ~$4k grid: floor(diff) would mint ~one bucket per
    # pair (money diffs are near-unique), making the per-bucket rollup
    # as large as the pair frame itself; /4096 keeps buckets ~100s of
    # rows while staying monotone (measured 9.8 s -> see SCALE.md)
    # bucket-pruned selection: only the bucket holding the lower-median
    # rank pays the position exchange+sort; the other ~6M pair rows are
    # dropped right after the map-side rollup (select_global_ranks —
    # bit-identical to the former position+filter)
    sel = select_global_ranks(
        diffs,
        ["diff"],
        F.floor(F.col("diff") / F.lit(4096.0)),
        lambda nd: nd.select(
            (F.floor((F.col("n") + 1) / 2) - 1).cast("long").alias("__drank_k")
        ),
        n_col="n",
    )
    return sel.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("diff").alias("hl_shift"),
    )
