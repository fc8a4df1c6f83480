"""Fellegi-Sunter probabilistic record-linkage scoring.

The missing middle of the entity-resolution pipeline: blocking finds
CANDIDATE pairs (`q_fuzzy_name_pairs`), survivorship merges DECIDED
clusters (`q_golden_record_survivorship`) — Fellegi-Sunter (1969) is
the decision layer between them, scoring each candidate by the
log-likelihood ratio of its field-agreement pattern:
w = Σ_f ln(m_f/u_f) over agreeing fields + ln((1−m_f)/(1−u_f)) over
disagreeing ones, then match / possible / non-match by thresholds.

Linkage grain: one PROFILE per distinct part name — the modal
(brand, type, size) with deterministic (count DESC, value) tiebreaks —
because the fixture's name vocabulary is small and heavily repeated
(64 names over 20k records at sf0.1): raw-record blocking is
quadratic in the repetition factor (a first cut measured 25M candidate
pairs at sf0.1 where the profile grain has < 100), while the profile
table is bounded by the name vocabulary at ANY corpus size — the same
scale contract the fuzzy name join ships. Candidates use that join's
exact blocking (last name token, Levenshtein ≤ FUZZY_MAX_DIST).

The u-probabilities (chance agreement between unrelated profiles) are
estimated EXACTLY from the profile marginals — u_f = Σ_i nᵢ(nᵢ−1) /
N(N−1), pure BIGINTs with one division — the standard frequency
estimator. The m-probabilities are declared domain constants (`FS_M`;
with no labeled pairs the alternative is EM, this operator's extension
point); agreement and disagreement constants are independent literals,
so both engines parse identical doubles. Weight terms sum in fixed
literal field order; every ln() input is a shared-text division of
exact integers or a shared literal, so scores hash-replay.

100 TB: the profile rollup is one partial-agg pass (name-vocabulary
bounded); u estimation and candidate scoring run on the bounded
profile table with a 1-row u frame broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.plans.advanced_joins import FUZZY_MAX_DIST
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table

#: m-probabilities: P(field agrees | profiles are a true match) —
#: declared domain constants with explicit disagreement complements
FS_M = {
    "brand": ("0.95", "0.05"),
    "type": ("0.9", "0.1"),
    "size": ("0.85", "0.15"),
}
FS_FIELDS = ("brand", "type", "size")
FS_MATCH_T = 4.0     # w ≥ this ⇒ match
FS_POSSIBLE_T = 0.0  # w in [possible, match) ⇒ clerical review

#: blocking hygiene: blocks holding more DISTINCT names than this are
#: excluded from candidate generation (standard oversized-block rule —
#: a block of b names is b² comparisons; on corpora whose name space
#: grows with size, unguarded blocks go quadratic: the local sf1.0
#: generator makes every name unique and its largest block held 6,452
#: names = 41M candidate comparisons before this guard)
FS_MAX_BLOCK = 200


def _w_expr(f: str) -> str:
    m, m1 = FS_M[f]
    return (
        f"CASE WHEN a_{f} THEN ln(CAST({m} AS DOUBLE) / u_{f})"
        f" ELSE ln(CAST({m1} AS DOUBLE)"
        f" / (CAST(1.0 AS DOUBLE) - u_{f})) END"
    )


_FS_WEIGHT = " + ".join(f"({_w_expr(f)})" for f in FS_FIELDS)
_FS_DECISION = (
    f"CASE WHEN fs_weight >= {FS_MATCH_T} THEN 'match'"
    f" WHEN fs_weight >= {FS_POSSIBLE_T} THEN 'possible'"
    f" ELSE 'nonmatch' END"
)
_N_AGREE = (
    "CAST(a_brand AS INT) + CAST(a_type AS INT) + CAST(a_size AS INT)"
)

#: modal field value per name, (count DESC, value) tiebreak — the CTE
#: is per-engine (window syntax identical, only quoting of the source
#: column differs), generated from one template
_MODE_CTE = """
mode_{f} AS (
    SELECT name, val AS {f} FROM (
        SELECT name, val, row_number() OVER (
            PARTITION BY name ORDER BY c DESC, val
        ) AS rk
        FROM (SELECT p_name AS name, {col} AS val, count(*) AS c
              FROM part GROUP BY 1, 2) g
    ) r WHERE rk = 1
)"""

_FIELD_COLS = (("brand", "p_brand"), ("type", "p_type"), ("size", "p_size"))


def _u_cte(f: str) -> str:
    return f"""
u_{f}_n AS (
    SELECT CAST(sum(n * (n - 1)) AS BIGINT) AS agree
    FROM (SELECT count(*) AS n FROM prof GROUP BY {f}) g
)"""


#: shared oracle front half: profile build, u estimation, guarded
#: blocked candidates — reused verbatim by the scorer and EM oracles
_FS_CAND_CTES = f"""
{",".join(_MODE_CTE.format(f=f, col=col) for f, col in _FIELD_COLS)},
names AS (
    SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_records,
           string_split(p_name, ' ')[-1] AS blk
    FROM part GROUP BY 1
),
blk_ok AS (
    SELECT blk FROM names GROUP BY blk
    HAVING count(*) <= {FS_MAX_BLOCK}
),
prof AS (
    SELECT names.name, names.n_records, names.blk, brand, type, size
    FROM names
    JOIN mode_brand USING (name)
    JOIN mode_type USING (name)
    JOIN mode_size USING (name)
),
{",".join(_u_cte(f) for f in FS_FIELDS)},
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM prof),
u AS (
    SELECT CAST(u_brand_n.agree AS DOUBLE) / (tot.n * (tot.n - 1.0))
             AS u_brand,
           CAST(u_type_n.agree AS DOUBLE) / (tot.n * (tot.n - 1.0))
             AS u_type,
           CAST(u_size_n.agree AS DOUBLE) / (tot.n * (tot.n - 1.0))
             AS u_size
    FROM u_brand_n, u_type_n, u_size_n, tot
),
cands AS (
    SELECT a.name AS name_1, b.name AS name_2,
           a.n_records AS n_records_1, b.n_records AS n_records_2,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.brand = b.brand AS a_brand,
           a.type = b.type AS a_type,
           a.size = b.size AS a_size
    FROM prof a
    JOIN blk_ok ON blk_ok.blk = a.blk
    JOIN prof b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
)"""

_FS_ORACLE = f"""
WITH {_FS_CAND_CTES},
scored AS (
    SELECT name_1, name_2, n_records_1, n_records_2, edit_dist,
           CAST({_N_AGREE} AS BIGINT) AS n_agree,
           {_FS_WEIGHT} AS fs_weight
    FROM cands, u
)
SELECT name_1, name_2, n_records_1, n_records_2, edit_dist, n_agree,
       fs_weight, {_FS_DECISION} AS decision
FROM scored
"""


def _modal(part: DataFrame, col: str, out: str) -> DataFrame:
    w = Window.partitionBy("name").orderBy(F.col("c").desc(), "val")
    return (
        part.select(F.col("p_name").alias("name"), F.col(col).alias("val"))
        .groupBy("name", "val")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("name", F.col("val").alias(out))
    )


def fs_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs with agreement flags, 1-row u-probability
    frame) — the shared front half of the FS scorer and the EM
    fitter; see the module docstring for the grain, blocking, and
    u-estimator contracts."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    ).withColumn("blk", F.expr("element_at(split(name, ' '), -1)"))
    prof = (
        names.join(_modal(part, "p_brand", "brand"), "name")
        .join(_modal(part, "p_type", "type"), "name")
        .join(_modal(part, "p_size", "size"), "name")
        .transform(eager_checkpoint)  # vocabulary-bounded; read 4× below
    )
    # ONE job for all three u-estimators + the profile count (instead
    # of prof.count() plus one groupBy+collect PER FIELD = 4
    # driver round-trips): melt the three fields into (field, value)
    # rows, count per cell, fold Σn·(n−1) and Σn per field. All exact
    # integers; the string cast is injective per field, so the value
    # counts are unchanged. Injectivity requires string/integral field
    # types — a float field could merge 0.0/-0.0 or split on rendering
    # — so pin it (a raise, not an assert, so it holds under python -O):
    for _f, _t in prof.select(*FS_FIELDS).dtypes:
        if _t not in ("string", "int", "bigint", "smallint", "tinyint"):
            raise TypeError(
                f"fs_candidates u-estimator melts {_f}:{_t}; the string cast "
                "is only count-preserving for string/integral fields"
            )
    melted = prof.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("f"),
                        F.col(f).cast("string").alias("v"),
                    )
                    for f in FS_FIELDS
                ]
            )
        ).alias("m")
    ).select("m.f", "m.v")
    stats = {
        r["f"]: r
        for r in (
            melted.groupBy("f", "v")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("f")
            .agg(
                F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("a"),
                F.sum("n").cast("long").alias("nn"),
            )
            .collect()
        )
    }
    n = stats[FS_FIELDS[0]]["nn"]
    us = [(f, stats[f]["a"]) for f in FS_FIELDS]
    u = spark.range(1).selectExpr(
        *[
            f"CAST({a} AS DOUBLE) / ({n} * ({n} - 1.0)) AS u_{f}"
            for f, a in us
        ]
    )
    blk_ok = (
        names.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= FS_MAX_BLOCK)
        .select("blk")
    )
    a, b = prof.join(F.broadcast(blk_ok), "blk").alias("a"), prof.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .filter(F.expr("levenshtein(a.name, b.name)") <= FUZZY_MAX_DIST)
        .select(
            F.col("a.name").alias("name_1"),
            F.col("b.name").alias("name_2"),
            F.col("a.n_records").alias("n_records_1"),
            F.col("b.n_records").alias("n_records_2"),
            F.expr("CAST(levenshtein(a.name, b.name) AS BIGINT)").alias(
                "edit_dist"
            ),
            (F.col("a.brand") == F.col("b.brand")).alias("a_brand"),
            (F.col("a.type") == F.col("b.type")).alias("a_type"),
            (F.col("a.size") == F.col("b.size")).alias("a_size"),
        )
    )
    return cands, u


@register(
    "q_fellegi_sunter_linkage",
    oracle=_FS_ORACLE,
    tags=("entity-resolution", "record-linkage", "fellegi-sunter", "fuzzy"),
)
def q_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter log-likelihood-ratio scores and match decisions
    over blocked near-miss NAME-PROFILE pairs: per candidate pair, the
    (brand, type, size) agreement pattern weighted by ln(m/u) and
    ln((1−m)/(1−u)), u estimated exactly from profile marginals — the
    probabilistic decision layer between blocking and survivorship.
    See the module docstring for the grain and estimator contracts."""
    cands, u = fs_candidates(spark, sf_dir)
    return (
        cands.crossJoin(F.broadcast(u))
        .selectExpr(
            "name_1",
            "name_2",
            "n_records_1",
            "n_records_2",
            "edit_dist",
            f"CAST({_N_AGREE} AS BIGINT) AS n_agree",
            f"{_FS_WEIGHT} AS fs_weight",
        )
        .selectExpr(
            "name_1",
            "name_2",
            "n_records_1",
            "n_records_2",
            "edit_dist",
            "n_agree",
            "fs_weight",
            f"{_FS_DECISION} AS decision",
        )
    )


# ---------------------------------------------------------------------------
# EM-fitted m/u/λ for the Fellegi-Sunter model
# ---------------------------------------------------------------------------

EM_ROUNDS = 3  # unrolled EM iterations (statistic defined at K)

#: per-pattern class likelihoods and responsibility — ONE scalar text
#: both engines evaluate identically (CASE products, no pow)
_EM_WM = (
    "lam"
    " * (CASE WHEN a_brand THEN m_brand"
    " ELSE CAST(1.0 AS DOUBLE) - m_brand END)"
    " * (CASE WHEN a_type THEN m_type"
    " ELSE CAST(1.0 AS DOUBLE) - m_type END)"
    " * (CASE WHEN a_size THEN m_size"
    " ELSE CAST(1.0 AS DOUBLE) - m_size END)"
)
_EM_WU = (
    "(CAST(1.0 AS DOUBLE) - lam)"
    " * (CASE WHEN a_brand THEN u_brand"
    " ELSE CAST(1.0 AS DOUBLE) - u_brand END)"
    " * (CASE WHEN a_type THEN u_type"
    " ELSE CAST(1.0 AS DOUBLE) - u_type END)"
    " * (CASE WHEN a_size THEN u_size"
    " ELSE CAST(1.0 AS DOUBLE) - u_size END)"
)
_EM_G = f"(({_EM_WM}) / (({_EM_WM}) + ({_EM_WU})))"

#: parameter clamps (standard EM stabilization at probability bounds)
_EM_CLAMP_P = "least(CAST(0.99 AS DOUBLE), greatest(CAST(0.01 AS DOUBLE), {x}))"
_EM_CLAMP_L = (
    "least(CAST(0.999 AS DOUBLE), greatest(CAST(0.001 AS DOUBLE), {x}))"
)

_PARAM_COLS = (
    "lam", "m_brand", "m_type", "m_size", "u_brand", "u_type", "u_size"
)


def _em_suffix(fold) -> str:
    """EM chain over the 8-row agreement-pattern table: p0 initializes
    λ and the m's at literals and the u's at the exact marginal
    estimates; each round aggregates responsibility-weighted counts
    (det-ordered folds) and re-derives clamped parameters. `fold` is
    the per-engine det-sum renderer (identical fold ORDER, per-engine
    spelling); every scalar expression is one shared text."""
    params = ", ".join(_PARAM_COLS)
    sums = ",\n           ".join(
        [
            f"{fold(f'CAST(c AS DOUBLE) * {_EM_G}')} AS sg",
            f"{fold(f'CAST(c AS DOUBLE) * {_EM_G} * CAST(a_brand AS INT)')} AS sgb",
            f"{fold(f'CAST(c AS DOUBLE) * {_EM_G} * CAST(a_type AS INT)')} AS sgt",
            f"{fold(f'CAST(c AS DOUBLE) * {_EM_G} * CAST(a_size AS INT)')} AS sgs",
            f"{fold(f'CAST(c AS DOUBLE) * (CAST(1.0 AS DOUBLE) - {_EM_G})')} AS su",
            f"{fold(f'CAST(c AS DOUBLE) * (CAST(1.0 AS DOUBLE) - {_EM_G}) * CAST(a_brand AS INT)')} AS sub",
            f"{fold(f'CAST(c AS DOUBLE) * (CAST(1.0 AS DOUBLE) - {_EM_G}) * CAST(a_type AS INT)')} AS sut",
            f"{fold(f'CAST(c AS DOUBLE) * (CAST(1.0 AS DOUBLE) - {_EM_G}) * CAST(a_size AS INT)')} AS sus",
            "CAST(sum(c) AS BIGINT) AS n",
        ]
    )
    its = [
        """p0 AS (
    SELECT CAST(0.5 AS DOUBLE) AS lam,
           CAST(0.9 AS DOUBLE) AS m_brand,
           CAST(0.9 AS DOUBLE) AS m_type,
           CAST(0.9 AS DOUBLE) AS m_size,
           u_brand, u_type, u_size
    FROM {u}
)"""
    ]
    upd = {
        "lam": _EM_CLAMP_L.format(x="sg / CAST(n AS DOUBLE)"),
        "m_brand": _EM_CLAMP_P.format(x="sgb / sg"),
        "m_type": _EM_CLAMP_P.format(x="sgt / sg"),
        "m_size": _EM_CLAMP_P.format(x="sgs / sg"),
        "u_brand": _EM_CLAMP_P.format(x="sub / su"),
        "u_type": _EM_CLAMP_P.format(x="sut / su"),
        "u_size": _EM_CLAMP_P.format(x="sus / su"),
    }
    upd_cols = ",\n           ".join(f"{e} AS {k}" for k, e in upd.items())
    for k in range(1, EM_ROUNDS + 1):
        its.append(
            f"""s{k} AS (
    SELECT {sums}
    FROM {{pat}} CROSS JOIN p{k - 1}
    GROUP BY {params}
)"""
        )
        its.append(
            f"""p{k} AS (
    SELECT {upd_cols}
    FROM s{k}
)"""
        )
    body = ",\n".join(its)
    return f"""
{body}
SELECT np.n_pairs, lam AS lambda_hat,
       m_brand, m_type, m_size, u_brand, u_type, u_size
FROM p{EM_ROUNDS}
CROSS JOIN (SELECT CAST(sum(c) AS BIGINT) AS n_pairs FROM {{pat}}) np
"""


def _fold_duck(x: str) -> str:
    return _DSUM_SQL.format(x=x)


def _fold_spark(x: str) -> str:
    return (
        f"aggregate(array_sort(collect_list({x})), CAST(0.0 AS DOUBLE),"
        " (a, x) -> a + x)"
    )


_EM_PAT_SQL = """
SELECT a_brand, a_type, a_size, CAST(count(*) AS BIGINT) AS c
FROM cands GROUP BY 1, 2, 3
"""

_FS_EM_ORACLE = (
    f"WITH {_FS_CAND_CTES},\npat AS ({_EM_PAT_SQL}),"
    + _em_suffix(_fold_duck).format(pat="pat", u="u")
)


@register(
    "q_fs_em_parameters",
    oracle=_FS_EM_ORACLE,
    tags=("entity-resolution", "record-linkage", "em", "fellegi-sunter"),
)
def q_fs_em_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-fitted Fellegi-Sunter parameters — the unsupervised upgrade
    of `q_fellegi_sunter_linkage`'s declared m constants: EM_ROUNDS
    unrolled EM iterations over the candidate pairs' agreement-pattern
    COUNT table (≤2³ rows — the classic trick that makes FS-EM
    corpus-size-free: responsibilities depend only on the pattern, so
    the E-step runs on pattern counts, never pairs) estimating the
    match prevalence λ and per-field m/u probabilities, initialized at
    the exact marginal u's and literal m's, parameters clamped to
    probability bounds each round. The statistic is DEFINED at
    EM_ROUNDS, so cross-engine parity never depends on convergence;
    folds are det-ordered, scalar updates one shared text.

    100 TB: everything after the (already bounded) candidate stage is
    an 8-row computation; even with sampled-pair inputs the pattern
    rollup is one partial-agg pass."""
    cands, u = fs_candidates(spark, sf_dir)
    pat = cands.groupBy("a_brand", "a_type", "a_size").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    pat.transform(eager_checkpoint).createOrReplaceTempView("fs_em_pat_v")
    u.createOrReplaceTempView("fs_em_u_v")
    return spark.sql(
        "WITH "
        + _em_suffix(_fold_spark)
        .format(pat="fs_em_pat_v", u="fs_em_u_v")
        .lstrip("\n")
    )
