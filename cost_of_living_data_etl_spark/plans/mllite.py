"""Distributed ML primitives as oracle-checkable aggregate plans.

The training-adjacent computations a 100 TB data platform runs IN the
engine rather than exporting to a single machine: closed-form ridge
regression from a Gram matrix (one aggregate pass, O(d²) driver-side
state) plus its k-fold cross-validation by GRAM SUBTRACTION, a
multinomial Naive Bayes text classifier trained and evaluated wholly
as joins/aggregates, chi-squared term-label feature selection, a
Count-Min sketch with point-query estimates validated against exact
counts, HLL set-operation audience overlap, and the bucketed
co-located join layout (S7) proven inside the oracle gate.

Design rules shared with the rest of the catalog:

* Every float reduction that feeds the driver's exact-hash gate goes
  through the sorted-fold ``det_sum`` (functions/columns.py) so Spark
  and DuckDB add in the same order; post-aggregate arithmetic is
  generated ONCE as SQL text and executed verbatim by both engines, so
  identical IEEE operations produce identical doubles.
* Determinism without RNG: splits reuse the md5-bucket idiom of
  plans/reshape.py; sketch hashes reuse the same md5→hex→int replay.
* Scale shape: the Gram pass ships 9 scalars per partition (partial
  agg), NB ships |vocab|×|labels| likelihood rows (broadcast-sized),
  the CMS ships depth×width cells — none of them scale with corpus
  row count, which is the whole point of these formulations.

Logistic regression by IRLS (`q_logistic_irls_status`) is the
classification twin of the ridge fit: ``IRLS_ITERS`` fixed Newton
rounds, unrolled in the oracle like the Lloyd fits; each round is ONE
aggregate pass that reduces the corpus to a 3×3 weighted Gram matrix
plus a 3-vector, solved by the same Cramer text as ridge.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import eager_checkpoint
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.reshape import (
    _BUCKET_SPARK,
    _BUCKET_SQL,
)
from cost_of_living_data_etl_spark.sources.tables import load_table

# --- ridge regression via Gram matrix --------------------------------------

RIDGE_LAMBDA = "1.0"  # SQL literal so both engines see the same token


def _det3(c0, c1, c2) -> str:
    """SQL text for the determinant of the 3×3 matrix whose COLUMNS are
    c0, c1, c2 (each a tuple of 3 SQL expressions, top to bottom).
    Cofactor expansion along the first row — one fixed expression tree,
    so both engines evaluate the same IEEE operations in the same
    order."""
    a, b, c = c0
    d, e, f = c1
    g, h, i = c2
    return (
        f"({a} * ({e} * {i} - {f} * {h})"
        f" - {d} * ({b} * {i} - {c} * {h})"
        f" + {g} * ({b} * {f} - {c} * {e}))"
    )


_G_C0 = (f"(nd + {RIDGE_LAMBDA})", "s1", "s2")
_G_C1 = ("s1", f"(s11 + {RIDGE_LAMBDA})", "s12")
_G_C2 = ("s2", "s12", f"(s22 + {RIDGE_LAMBDA})")
_G_B = ("sy", "s1y", "s2y")

_RIDGE_DET = _det3(_G_C0, _G_C1, _G_C2)
_RIDGE_BETA = {
    "beta0": _det3(_G_B, _G_C1, _G_C2),
    "beta1": _det3(_G_C0, _G_B, _G_C2),
    "beta2": _det3(_G_C0, _G_C1, _G_B),
}

_DSUM_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list({x}))),"
    " (a, b) -> a + b)"
)

#: the Gram entries of the (1, x1, x2) design against y, each with the
#: term its sorted-fold sum adds up; ``nd`` is the row count
_GRAM_TERMS = {
    "s1": "x1",
    "s2": "x2",
    "s11": "x1 * x1",
    "s12": "x1 * x2",
    "s22": "x2 * x2",
    "sy": "y",
    "s1y": "x1 * y",
    "s2y": "x2 * y",
}
_GRAM_COLS = ("nd", *_GRAM_TERMS)

#: DuckDB twin of ``_gram_aggs``: the Gram select list
_GRAM_SQL = ",\n           ".join(
    ["CAST(count(*) AS DOUBLE) AS nd"]
    + [f"{_DSUM_SQL.format(x=t)} AS {c}" for c, t in _GRAM_TERMS.items()]
)


def _gram_aggs() -> list[Column]:
    """The nine Gram aggregates, in ``_GRAM_COLS`` order."""
    return [F.count(F.lit(1)).cast("double").alias("nd")] + [
        det_sum(t).alias(c) for c, t in _GRAM_TERMS.items()
    ]


_RIDGE_ORACLE = f"""
WITH feats AS (
    SELECT o.o_totalprice AS y,
           CAST(f.x1 AS DOUBLE) AS x1,
           CAST(f.x2 AS DOUBLE) AS x2
    FROM (SELECT l_orderkey,
                 sum(l_quantity) AS x1,
                 count(*)        AS x2
          FROM lineitem GROUP BY l_orderkey) f
    JOIN orders o ON o.o_orderkey = f.l_orderkey
),
gram AS (
    SELECT {_GRAM_SQL}
    FROM feats
)
SELECT CAST(nd AS BIGINT)           AS n_orders,
       {_RIDGE_BETA["beta0"]} / {_RIDGE_DET} AS beta0,
       {_RIDGE_BETA["beta1"]} / {_RIDGE_DET} AS beta1,
       {_RIDGE_BETA["beta2"]} / {_RIDGE_DET} AS beta2
FROM gram
"""


@register(
    "q_ridge_gram_regression",
    oracle=_RIDGE_ORACLE,
    tags=("ml", "regression", "gram-matrix", "training-data"),
)
def q_ridge_gram_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression of order price on two lineitem
    features (total quantity, line count), solved from the Gram matrix
    (XᵀX + λI)β = Xᵀy by Cramer's rule — the distributed formulation
    of linear model fitting: ONE aggregate pass over the data reduces
    to d² = 9 scalars, the solve is O(d³) on those scalars, and no
    row-level data ever reaches the driver. At 100 TB the Gram pass is
    a map-side partial aggregate (9 running sums per partition); this
    catalog variant swaps the plain sums for the sorted-fold det_sum so
    the driver's exact-hash oracle gate holds bit-for-bit, and the
    Cramer expressions are ONE generated SQL string evaluated verbatim
    by both engines (λ penalizes the intercept too — a modeling
    shortcut, documented, that keeps G symmetric in the formula text).

    Feature sums per order (Σquantity, line count) are integral-valued
    doubles — exact in any order, so plain per-order sums are safe.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("x1_raw"),
            F.count(F.lit(1)).alias("x2_raw"),
        )
    )
    feats = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_totalprice").alias("y"),
            F.col("x1_raw").cast("double").alias("x1"),
            F.col("x2_raw").cast("double").alias("x2"),
        )
    )
    gram = feats.agg(*_gram_aggs())
    return gram.selectExpr(
        "CAST(nd AS BIGINT) AS n_orders",
        f'{_RIDGE_BETA["beta0"]} / {_RIDGE_DET} AS beta0',
        f'{_RIDGE_BETA["beta1"]} / {_RIDGE_DET} AS beta1',
        f'{_RIDGE_BETA["beta2"]} / {_RIDGE_DET} AS beta2',
    )


# --- k-fold cross-validation by Gram subtraction ---------------------------

KFOLDS = 5

_FOLD_SPARK = f"({_BUCKET_SPARK.format(k='o_orderkey')}) % {KFOLDS}"
_FOLD_SQL = f"({_BUCKET_SQL.format(k='o_orderkey')}) % {KFOLDS}"

# Cramer columns over the LEAVE-FOLD-OUT Gram entries: each *_r name is
# (total − fold), computed with identical arithmetic on both engines.
_R_C0 = (f"(nd_r + {RIDGE_LAMBDA})", "s1_r", "s2_r")
_R_C1 = ("s1_r", f"(s11_r + {RIDGE_LAMBDA})", "s12_r")
_R_C2 = ("s2_r", "s12_r", f"(s22_r + {RIDGE_LAMBDA})")
_R_B = ("sy_r", "s1y_r", "s2y_r")

_CV_DET = _det3(_R_C0, _R_C1, _R_C2)
_CV_BETA = {
    "beta0": _det3(_R_B, _R_C1, _R_C2),
    "beta1": _det3(_R_C0, _R_B, _R_C2),
    "beta2": _det3(_R_C0, _R_C1, _R_B),
}

_CV_ORACLE = f"""
WITH feats AS (
    SELECT o.o_totalprice AS y,
           CAST(f.x1 AS DOUBLE) AS x1,
           CAST(f.x2 AS DOUBLE) AS x2,
           {_FOLD_SQL} AS fold
    FROM (SELECT l_orderkey,
                 sum(l_quantity) AS x1,
                 count(*)        AS x2
          FROM lineitem GROUP BY l_orderkey) f
    JOIN orders o ON o.o_orderkey = f.l_orderkey
),
fold_gram AS (
    SELECT fold,
           {_GRAM_SQL}
    FROM feats GROUP BY fold
),
total_gram AS (
    SELECT {", ".join(_DSUM_SQL.format(x=c) + f" AS {c}_t" for c in _GRAM_COLS)}
    FROM fold_gram
),
loo AS (
    SELECT fold,
           {", ".join(f"({c}_t - {c}) AS {c}_r" for c in _GRAM_COLS)},
           nd AS n_fold
    FROM fold_gram CROSS JOIN total_gram
),
betas AS (
    SELECT fold, n_fold,
           {_CV_BETA["beta0"]} / {_CV_DET} AS beta0,
           {_CV_BETA["beta1"]} / {_CV_DET} AS beta1,
           {_CV_BETA["beta2"]} / {_CV_DET} AS beta2
    FROM loo
),
resid AS (
    SELECT f.fold, b.n_fold, b.beta0, b.beta1, b.beta2,
           {_DSUM_SQL.format(
               x="(y - (beta0 + beta1 * x1 + beta2 * x2))"
                 " * (y - (beta0 + beta1 * x1 + beta2 * x2))")} AS sse
    FROM feats f JOIN betas b ON f.fold = b.fold
    GROUP BY f.fold, b.n_fold, b.beta0, b.beta1, b.beta2
)
SELECT CAST(fold AS BIGINT) AS fold,
       CAST(n_fold AS BIGINT) AS n_rows,
       beta0, beta1, beta2,
       sqrt(sse / n_fold) AS rmse
FROM resid
"""


@register(
    "q_ridge_kfold_cv",
    oracle=_CV_ORACLE,
    tags=("ml", "regression", "cross-validation", "gram-matrix"),
)
def q_ridge_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KFOLDS}-fold cross-validation of the Gram-matrix ridge model by
    GRAM SUBTRACTION: per-fold partial Grams are computed in ONE
    aggregate pass, the training Gram for fold f is total − fold_f
    (entrywise — no re-scan per fold, the algebra partial aggregation
    buys you), each held-out model solves by the shared Cramer text,
    and a second pass scores every row against its own fold's
    broadcast betas for the held-out RMSE. Two corpus passes TOTAL for
    k models — versus k+1 for the naive per-fold refit; at 100 TB
    that's the difference between a CV sweep and an overnight job.

    Folds are md5-bucket assignments on o_orderkey (replayable, no
    RNG). Float discipline: fold Grams and fold-sum totals are
    sorted-fold det_sums, subtraction/Cramer/prediction arithmetic is
    ONE generated SQL text — bit-identical through the driver's hash.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("x1_raw"),
            F.count(F.lit(1)).alias("x2_raw"),
        )
    )
    feats = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_totalprice").alias("y"),
            F.col("x1_raw").cast("double").alias("x1"),
            F.col("x2_raw").cast("double").alias("x2"),
            F.expr(_FOLD_SPARK).alias("fold"),
        )
        # NOTE: an eager checkpoint of this design matrix
        # was A/B-tested and REJECTED (3.98 s old vs 4.76 s new min,
        # interleaved) — materializing 150k rows costs more than the
        # second derivation of the cheap scan+agg+join it would save.
        # q_conformal_interval_ridge keeps its checkpoint because FOUR
        # branches read it; here there are only two passes.
    )
    # Pass 1: per-fold partial Grams. The k×10 result (the WHOLE model
    # state) is collected and replayed as literals so the total/LOO
    # algebra below never re-derives the aggregate subtree — keeping
    # the query at exactly two passes over the materialized design
    # matrix (pinned in test_plans.py).
    fold_rows = [
        tuple(r)
        for r in feats.groupBy("fold").agg(*_gram_aggs()).collect()
    ]
    fold_gram = spark.createDataFrame(
        fold_rows,
        "fold bigint, " + ", ".join(f"{c} double" for c in _GRAM_COLS),
    )
    total_gram = fold_gram.agg(
        *[det_sum(c).alias(f"{c}_t") for c in _GRAM_COLS]
    )
    loo = fold_gram.crossJoin(F.broadcast(total_gram)).selectExpr(
        "fold",
        *[f"({c}_t - {c}) AS {c}_r" for c in _GRAM_COLS],
        "nd AS n_fold",
    )
    betas = loo.selectExpr(
        "fold",
        "n_fold",
        f'{_CV_BETA["beta0"]} / {_CV_DET} AS beta0',
        f'{_CV_BETA["beta1"]} / {_CV_DET} AS beta1',
        f'{_CV_BETA["beta2"]} / {_CV_DET} AS beta2',
    )
    resid = (
        feats.join(F.broadcast(betas), "fold")
        .groupBy("fold", "n_fold", "beta0", "beta1", "beta2")
        .agg(
            det_sum(
                "(y - (beta0 + beta1 * x1 + beta2 * x2))"
                " * (y - (beta0 + beta1 * x1 + beta2 * x2))"
            ).alias("sse")
        )
    )
    return resid.selectExpr(
        "CAST(fold AS BIGINT) AS fold",
        "CAST(n_fold AS BIGINT) AS n_rows",
        "beta0",
        "beta1",
        "beta2",
        "sqrt(sse / n_fold) AS rmse",
    )


# --- multinomial Naive Bayes language classifier ---------------------------

NB_V = 200  # vocabulary size (top-V train words, count-desc/word-asc)
_TRAIN_CUT = 80  # md5 buckets 0-79 train (matches q_train_val_test_split)
_TEST_CUT = 90  # buckets 90-99 test

_NB_BUCKET_SPARK = _BUCKET_SPARK.format(k="doc_id")
_NB_BUCKET_SQL = _BUCKET_SQL.format(k="doc_id")

#: shared likelihood text: Laplace-1 smoothing over a V-word vocabulary.
#: c is COALESCEd inside the shared text because a vocab word unseen in
#: a language arrives as NULL from the left join on BOTH engines.
_NB_LNP = (
    "ln((CAST(COALESCE(c, 0) AS DOUBLE) + 1.0)"
    f" / (CAST(tok AS DOUBLE) + {NB_V}.0))"
)

_NB_ORACLE = f"""
WITH train AS (
    SELECT doc_id, lang, trim(text) AS t FROM documents
    WHERE {_NB_BUCKET_SQL} < {_TRAIN_CUT} AND trim(text) <> ''
),
test AS (
    SELECT doc_id, lang, trim(text) AS t FROM documents
    WHERE {_NB_BUCKET_SQL} >= {_TEST_CUT} AND trim(text) <> ''
),
train_tokens AS (
    SELECT lang, unnest(string_split_regex(t, '\\s+')) AS word FROM train
),
vocab AS (
    SELECT word FROM (
        SELECT word, count(*) AS cnt FROM train_tokens GROUP BY word
        ORDER BY cnt DESC, word LIMIT {NB_V}
    )
),
langs AS (SELECT DISTINCT lang FROM train),
cwl AS (
    SELECT lang, word, CAST(count(*) AS BIGINT) AS c
    FROM train_tokens JOIN vocab USING (word)
    GROUP BY lang, word
),
tokl AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS tok
    FROM train_tokens JOIN vocab USING (word)
    GROUP BY lang
),
prior AS (
    -- tok-less langs are excluded from the CANDIDATE set too: with no
    -- likelihood rows they would score prior-alone (~-2) and beat every
    -- real language's large negative log-likelihood on every document
    SELECT lang,
           ln(CAST(count(*) AS DOUBLE)
              / (SELECT CAST(count(*) AS DOUBLE) FROM train)) AS lp
    FROM train WHERE lang IN (SELECT lang FROM tokl) GROUP BY lang
),
lik AS (
    SELECT l.lang, v.word, {_NB_LNP} AS lnp
    FROM langs l
    CROSS JOIN vocab v
    JOIN tokl USING (lang)
    LEFT JOIN cwl ON cwl.lang = l.lang AND cwl.word = v.word
),
test_tokens AS (
    SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS word FROM test
),
test_wc AS (
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
    FROM test_tokens JOIN vocab USING (word)
    GROUP BY doc_id, word
),
partial AS (
    SELECT w.doc_id, lik.lang,
           {_DSUM_SQL.format(x="CAST(cnt AS DOUBLE) * lnp")} AS s
    FROM test_wc w JOIN lik ON lik.word = w.word
    GROUP BY w.doc_id, lik.lang
),
scored AS (
    SELECT t.doc_id, t.lang AS true_lang, p.lang AS cand,
           pr.lp + COALESCE(s, CAST(0.0 AS DOUBLE)) AS score
    FROM test t
    CROSS JOIN langs p
    JOIN prior pr ON pr.lang = p.lang
    LEFT JOIN partial ON partial.doc_id = t.doc_id AND partial.lang = p.lang
),
pred AS (
    SELECT doc_id, true_lang, cand AS pred_lang FROM (
        SELECT doc_id, true_lang, cand,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, cand
               ) AS rn
        FROM scored
    ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
"""

@register(
    "q_naive_bayes_langid",
    oracle=_NB_ORACLE,
    tags=("ml", "classification", "naive-bayes", "text", "training-data"),
)
def q_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND
    evaluated entirely as joins/aggregates: fit on the md5-bucket train
    split (buckets < 80), score the held-out test split (buckets ≥ 90),
    emit the confusion matrix — the canonical "ML as SQL" pattern that
    scales to any corpus because the model itself is a broadcast-sized
    table (|vocab| × |langs| log-likelihoods + |langs| priors).

    Determinism end-to-end: md5-bucket split (no RNG), vocabulary cut
    by (count DESC, word) total order, per-(doc, lang) log-likelihood
    sums via the sorted-fold det_sum, argmax by (score DESC, lang)
    row_number. Scale shape: train pass = one token shuffle bounded by
    |vocab|; scoring = test-token map-side join against the BROADCAST
    likelihood table, then a |test docs| × |langs| aggregate; nothing
    row-level ever concentrates on one node.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.trim(F.col("text")).alias("t")
    ).filter(F.col("t") != "")
    bucket = F.expr(_NB_BUCKET_SPARK)
    train = docs.filter(bucket < _TRAIN_CUT)
    test = docs.filter(bucket >= _TEST_CUT)

    # --- TRAIN: two aggregate passes whose RESULTS are the model, all
    # bounded by model size, never by corpus size (the IVF-centroid
    # precedent, operators/similarity.py): vocab = NB_V strings, token
    # counts = |vocab|×|langs| ints, priors = |langs| ints.
    train_tokens = train.select(
        "lang", F.explode(F.split("t", r"\s+")).alias("word")
    )
    vocab = [
        r["word"]
        for r in train_tokens.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(NB_V)
        .collect()
    ]
    vocab_tokens = train_tokens.filter(F.col("word").isin(vocab))
    # ONE collect for token counts AND priors (round 10; previously two
    # sequential driver round-trips): the per-(lang, word) token counts
    # and the per-lang doc counts are independent rollups, so a tagged
    # union ships both in a single job — same exact-integer rows, one
    # scheduling barrier instead of two.
    model_rows = (
        vocab_tokens.groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(F.lit("cwl").alias("kind"), "lang", "word", "c")
        .unionByName(
            train.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .select(
                F.lit("prior").alias("kind"),
                "lang",
                F.lit(None).cast("string").alias("word"),
                "c",
            )
        )
        .collect()
    )
    cwl_rows = [r for r in model_rows if r["kind"] == "cwl"]
    prior_rows = [
        {"lang": r["lang"], "n": r["c"]}
        for r in model_rows
        if r["kind"] == "prior"
    ]
    n_train = sum(r["n"] for r in prior_rows)

    # Model tables rebuilt as LITERAL DataFrames (exact ints), with the
    # float formulas still evaluated by Spark SQL from the SHARED text —
    # the scoring plan below therefore scans the corpus exactly once.
    cwl = {(r["lang"], r["word"]): r["c"] for r in cwl_rows}
    tok = {}
    for (lang, _), c in cwl.items():
        tok[lang] = tok.get(lang, 0) + c
    langs = sorted(r["lang"] for r in prior_rows)
    # tok-less languages drop, mirroring the oracle's INNER join on tokl
    lik = spark.createDataFrame(
        [
            (l, w_, cwl.get((l, w_), 0), tok[l])
            for l in langs
            if l in tok
            for w_ in vocab
        ],
        "lang string, word string, c long, tok long",
    ).select("lang", "word", F.expr(_NB_LNP).alias("lnp"))
    # tok-less langs leave the candidate set too (mirrors the oracle's
    # prior CTE filter): a lang with no likelihood rows would otherwise
    # score prior-alone and win every document
    prior = spark.createDataFrame(
        [(r["lang"], r["n"]) for r in prior_rows if r["lang"] in tok],
        "cand string, n long",
    ).select(
        "cand",
        F.expr(f"ln(CAST(n AS DOUBLE) / CAST({n_train} AS DOUBLE))").alias("lp"),
    )

    # --- SCORE: one pass over the test corpus.
    test_wc = (
        test.select("doc_id", F.explode(F.split("t", r"\s+")).alias("word"))
        .filter(F.col("word").isin(vocab))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    partial = (
        test_wc.join(F.broadcast(lik), "word")
        .groupBy("doc_id", "lang")
        .agg(det_sum("CAST(cnt AS DOUBLE) * lnp").alias("s"))
    )
    scored = (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(prior))
        .join(
            partial.select(
                "doc_id", F.col("lang").alias("cand"), "s"
            ),
            ["doc_id", "cand"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("lp") + F.coalesce(F.col("s"), F.expr("CAST(0.0 AS DOUBLE)"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# --- chi-squared term-label feature selection ------------------------------

CHI2_CAND = 200  # candidate terms: top-N by document frequency
CHI2_TOPK = 3  # terms reported per language

#: χ² for a 2×2 contingency table, one shared expression text.
#: n11 = docs of lang containing term, n1_ = docs containing term,
#: n_1 = docs in lang, nn = all docs (BIGINTs; cast once, up front).
#: Degenerate margins (a term in EVERY doc or none, a language with
#: every doc or none) make a zero denominator; such a feature carries
#: zero label information, so χ² is DEFINED as 0 there — the guard is
#: inside the shared text, identical on both engines (found by running
#: the suite on generator fixtures where a stopword hit every doc;
#: ANSI Spark raised DIVIDE_BY_ZERO).
_CHI2_EXPR = (
    "CASE WHEN n1_ = 0 OR n1_ = nn OR n_1 = 0 OR n_1 = nn "
    "THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(nn AS DOUBLE) * "
    "(CAST(n11 AS DOUBLE) * CAST(nn - n1_ - n_1 + n11 AS DOUBLE)"
    " - CAST(n1_ - n11 AS DOUBLE) * CAST(n_1 - n11 AS DOUBLE))"
    " * (CAST(n11 AS DOUBLE) * CAST(nn - n1_ - n_1 + n11 AS DOUBLE)"
    " - CAST(n1_ - n11 AS DOUBLE) * CAST(n_1 - n11 AS DOUBLE))"
    " / (CAST(n1_ AS DOUBLE) * CAST(nn - n1_ AS DOUBLE)"
    " * CAST(n_1 AS DOUBLE) * CAST(nn - n_1 AS DOUBLE)) END"
)

_CHI2_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, lang, trim(text) AS t FROM documents
    WHERE trim(text) <> ''
),
doc_terms AS (
    SELECT DISTINCT doc_id, lang,
           unnest(string_split_regex(t, '\\s+')) AS term
    FROM docs
),
cand AS (
    SELECT term, CAST(df AS BIGINT) AS n1_ FROM (
        SELECT term, count(*) AS df FROM (
            SELECT DISTINCT doc_id, term FROM doc_terms
        ) GROUP BY term ORDER BY df DESC, term LIMIT {CHI2_CAND}
    )
),
nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_1 FROM docs GROUP BY lang),
nn_t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
n11_t AS (
    SELECT lang, term, CAST(count(*) AS BIGINT) AS n11
    FROM (SELECT DISTINCT doc_id, lang, term FROM doc_terms)
    JOIN cand USING (term)
    GROUP BY lang, term
),
full_grid AS (
    SELECT nl.lang, cand.term, cand.n1_, nl.n_1, nn_t.nn,
           COALESCE(n11_t.n11, 0) AS n11
    FROM nl CROSS JOIN cand CROSS JOIN nn_t
    LEFT JOIN n11_t ON n11_t.lang = nl.lang AND n11_t.term = cand.term
),
scored AS (
    SELECT lang, term, {_CHI2_EXPR} AS chi2,
           row_number() OVER (
               PARTITION BY lang ORDER BY {_CHI2_EXPR} DESC, term
           ) AS rn
    FROM full_grid
)
SELECT lang, term, chi2 FROM scored WHERE rn <= {CHI2_TOPK}
"""


@register(
    "q_chi2_term_selection",
    oracle=_CHI2_ORACLE,
    tags=("ml", "feature-selection", "chi2", "text", "training-data"),
)
def q_chi2_term_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² term-label association: for each language, the top-3 terms
    whose document-level presence is most dependent on that language —
    the classic feature-selection screen before training any text
    classifier, and a direct read on which tokens are language markers.

    Contingency counts are exact BIGINTs (distinct doc-term pairs), so
    the χ² floats come out of ONE shared expression text on identical
    integers — bit-identical across engines with no det_sum needed.
    Scale: the distinct (doc, term) projection bounds every shuffle by
    document count × distinct-terms-per-doc; the candidate cut keeps
    the scored grid at |langs| × {CHI2_CAND} rows.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.trim(F.col("text")).alias("t")
    ).filter(F.col("t") != "")
    doc_terms = docs.select(
        "doc_id", "lang", F.explode(F.split("t", r"\s+")).alias("term")
    ).distinct()
    # Candidate cut collected to the driver: CHI2_CAND (term, df) int
    # pairs — bounded by the cut, not the corpus (same rationale as the
    # NB model above) — so the scoring pass scans doc_terms once.
    cand_rows = (
        doc_terms.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(CHI2_CAND)
        .collect()
    )
    cand = spark.createDataFrame(
        [(r["term"], r["df"]) for r in cand_rows], "term string, n1_ long"
    )
    cand_terms = [r["term"] for r in cand_rows]
    nl = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_1"))
    nn = docs.count()  # one scalar (total doc count)
    n11 = (
        doc_terms.filter(F.col("term").isin(cand_terms))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n11"))
    )
    grid = (
        nl.crossJoin(F.broadcast(cand))
        .withColumn("nn", F.lit(nn).cast("long"))
        .join(F.broadcast(n11), ["lang", "term"], "left")
        .withColumn("n11", F.coalesce(F.col("n11"), F.lit(0).cast("long")))
    )
    scored = grid.select(
        "lang", "term", F.expr(_CHI2_EXPR).alias("chi2")
    )
    w = Window.partitionBy("lang").orderBy(F.col("chi2").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CHI2_TOPK)
        .select("lang", "term", "chi2")
    )


# --- HLL set operations: audience overlap via inclusion-exclusion ----------

_HLL_A = "click"
_HLL_B = "purchase"


def _hll_overlap_oracle() -> str:
    """DuckDB replay of the register build → per-set estimate → union
    merge → inclusion-exclusion intersection, assembled from the SAME
    shared SQL fragments as the driver-green q_sketch_rollup_customers
    oracle (operators/sketches.py::det_hll_*_sql) — estimator changes
    there propagate here automatically."""
    from cost_of_living_data_etl_spark.operators.sketches import (
        det_hll_est_case_sql,
        det_hll_h60_sql,
        det_hll_reg_sql,
        det_hll_sint_sql,
    )

    return f"""
    WITH ev AS (
        SELECT event_type, CAST(user_id AS VARCHAR) AS v FROM events
        WHERE event_type IN ('{_HLL_A}', '{_HLL_B}')
    ),
    h AS (
        SELECT event_type, {det_hll_h60_sql("v")} AS h60
        FROM ev
    ),
    regs AS (
        SELECT event_type, {det_hll_reg_sql()}
        FROM h GROUP BY event_type, idx
    ),
    aregs AS (
        SELECT * FROM regs
        UNION ALL
        SELECT 'both' AS event_type, idx, max(reg) AS reg
        FROM regs GROUP BY idx
    ),
    est AS (
        SELECT event_type, {det_hll_est_case_sql()} AS e FROM (
            SELECT event_type, {det_hll_sint_sql()}
            FROM aregs GROUP BY event_type
        )
    ),
    wide AS (
        SELECT max(CASE WHEN event_type = '{_HLL_A}' THEN e END) AS est_a,
               max(CASE WHEN event_type = '{_HLL_B}' THEN e END) AS est_b,
               max(CASE WHEN event_type = 'both' THEN e END) AS est_union
        FROM est
    ),
    exact AS (
        SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
            SELECT v FROM ev GROUP BY v
            HAVING count(DISTINCT event_type) = 2
        )
    )
    SELECT est_a, est_b, est_union,
           (est_a + est_b - est_union) AS est_intersection,
           exact_intersection
    FROM wide CROSS JOIN exact
    """


@register(
    "q_hll_overlap_event_types",
    oracle=_hll_overlap_oracle(),
    tags=("sketch", "hll", "set-operations", "audience-overlap"),
)
def q_hll_overlap_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from HLL sketches ALONE: |clickers ∩
    purchasers| ≈ est(A) + est(B) − est(A ∪ B), where the union sketch
    is the register-wise max-merge — no re-scan of raw events, which is
    the whole point: at 100 TB the per-segment sketch tables are
    persisted once, and ANY pairwise (or k-way, by inclusion-exclusion)
    audience overlap is answered from kilobytes of registers. The exact
    intersection rides along (one distinct-users pass) so the estimate's
    error is part of the hashed, driver-checked output.

    Uses the deterministic portable HLL (operators/sketches.py) so the
    full build→merge→estimate→subtract path replays in DuckDB.
    """
    from cost_of_living_data_etl_spark.operators.sketches import (
        det_hll_estimate,
        det_hll_merge,
        det_hll_registers,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin([_HLL_A, _HLL_B]))
        .select("event_type", "user_id")
    )
    # ONE sketching pass; the register table (≤ 2 × 4096 rows — the
    # artifact a production pipeline PERSISTS) is collected and
    # replayed as literals, so the union/estimate algebra below reads
    # sketches, not events.
    reg_rows = [
        (r["event_type"], r["idx"], r["reg"], r["n_rows"])
        for r in det_hll_registers(ev, ["event_type"], "user_id").collect()
    ]
    regs = spark.createDataFrame(
        reg_rows, "event_type string, idx bigint, reg int, n_rows bigint"
    )
    both = det_hll_merge(
        regs.withColumn("event_type", F.lit("both")), ["event_type"]
    )
    est = det_hll_estimate(regs.unionByName(both), ["event_type"], "e")
    wide = est.groupBy().agg(
        F.max(F.when(F.col("event_type") == _HLL_A, F.col("e"))).alias("est_a"),
        F.max(F.when(F.col("event_type") == _HLL_B, F.col("e"))).alias("est_b"),
        F.max(F.when(F.col("event_type") == "both", F.col("e"))).alias(
            "est_union"
        ),
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return wide.crossJoin(F.broadcast(exact)).selectExpr(
        "est_a",
        "est_b",
        "est_union",
        "(est_a + est_b - est_union) AS est_intersection",
        "exact_intersection",
    )


# --- bucketed co-located join (S7 layout inside the oracle gate) -----------


@register(
    "q_bucketed_colocated_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)              AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list_sort(list(o_totalprice))),
                       (a, b) -> a + b)          AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
    GROUP BY c_mktsegment
    """,
    tags=("sink", "warehouse", "bucketing", "join", "colocated"),
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 bucketed-layout verification INSIDE the oracle gate: write
    orders and customer as managed tables bucketed on the SAME key with
    the SAME bucket count, join them co-located, aggregate — and match
    the oracle computed straight from the source tables. Equality
    proves the bucketBy write → catalog read → join path loses nothing.

    The 100 TB point of bucketing: the custkey shuffle for this join
    is paid ONCE at write time, not per query. With both sides bucketed
    (16, custkey) and the join hinted to sort-merge, the physical plan
    has ZERO Exchange operators before the join (pinned by
    tests/test_warehouse_layout.py::test_bucketed_join_has_zero_exchanges
    for the layout and by tests/test_plans.py for this query) — every
    repeated fact⋈dim or fact⋈fact on the bucket key runs shuffle-free.
    The merge hint forces the bucketed path even where AQE would pick a
    broadcast at toy scale; at 100 TB neither side broadcasts anyway.

    det_sum on revenue: deterministic-order summation on both engines
    (see functions/columns.py::det_sum).
    """
    import hashlib
    import tempfile

    from cost_of_living_data_etl_spark.sources.warehouse import Warehouse

    # Table NAMES must be content-deterministic (round-8 verdict item 3):
    # the analyzed-plan fingerprint embeds the catalog table name, and a
    # session-keyed name churned the fingerprint every bench run, making
    # this query a perpetual re-queuer in the driver's verified-sample
    # logic. Managed-table names live in the per-process in-memory
    # catalog, so concurrent processes can share the same NAME safely;
    # only the storage PATH needs the per-session component to avoid a
    # cross-process overwrite race on the shared tempdir.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path_tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]  # per-session path: no cross-session overwrite race
    wh = Warehouse(f"{tempfile.gettempdir()}/spark_graft_bucketed_{path_tag}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # The two bucketed writes are INDEPENDENT jobs; run at once, the
    # customer write back-fills the cores freed by the orders write's
    # tail instead of waiting behind it. Interleaved order-alternating
    # A/B: med 1.90 → 1.65 s, min 1.56 → 1.21, rows identical. Table
    # contents are byte-identical to the sequential form (same data,
    # same bucketing, same sort).
    run_concurrently(
        lambda: wh.save_bucketed(
            orders, f"bkt_orders_{tag}", ["o_custkey"], n_buckets=16
        ),
        lambda: wh.save_bucketed(
            customer.withColumnRenamed("c_custkey", "o_custkey"),
            f"bkt_customer_{tag}",
            ["o_custkey"],
            n_buckets=16,
        ),
    )
    o = spark.table(f"bkt_orders_{tag}").filter(F.col("o_orderstatus") == "O")
    c = spark.table(f"bkt_customer_{tag}")
    return (
        o.hint("merge")
        .join(c.hint("merge"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
            det_sum("o_totalprice").alias("revenue"),
        )
    )


# --- Benford first-digit audit ---------------------------------------------

#: shared first-significant-digit text (prices are ≥ 1 in the fixtures,
#: so the integer part's leading digit IS the significant digit)
_BENFORD_DIGIT = (
    "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1)"
    " AS BIGINT)"
)
#: Benford expectation log10(1 + 1/d) as one shared text on the BIGINT d
_BENFORD_EXPECTED = "log10(1.0 + 1.0 / CAST(digit AS DOUBLE))"

_BENFORD_ORACLE = f"""
WITH d AS (
    SELECT {_BENFORD_DIGIT} AS digit FROM orders
),
c AS (
    SELECT digit, CAST(count(*) AS BIGINT) AS n_orders FROM d GROUP BY digit
),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
SELECT digit, n_orders,
       CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       {_BENFORD_EXPECTED} AS benford_expected,
       CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE)
           - {_BENFORD_EXPECTED} AS deviation
FROM c CROSS JOIN t
"""


@register(
    "q_benford_price_audit",
    oracle=_BENFORD_ORACLE,
    tags=("quality", "audit", "benford", "statistics"),
)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order prices: observed first-significant-
    digit shares vs the log10(1 + 1/d) expectation — the forensic
    data-quality screen for fabricated, truncated, or unit-mangled
    monetary columns (organic multi-scale amounts follow Benford;
    synthetic or clipped ones visibly don't, and THIS fixture's uniform
    price generator is exactly such a non-Benford source, which the
    deviation column makes measurable).

    All counts are exact BIGINTs from one aggregate; the share/expected
    floats come from one shared expression text on those integers —
    bit-identical with no det_sum. Scale: digit extraction is scan-
    stage arithmetic; the shuffle carries 9 digit groups.
    """
    d = load_table(spark, sf_dir, "orders").select(
        F.expr(_BENFORD_DIGIT).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    t = d.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return c.crossJoin(F.broadcast(t)).selectExpr(
        "digit",
        "n_orders",
        "CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) AS share",
        f"{_BENFORD_EXPECTED} AS benford_expected",
        "CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE)"
        f" - {_BENFORD_EXPECTED} AS deviation",
    )


# --- SCD2 history inside the oracle gate -----------------------------------

_SCD2_BUCKET = _BUCKET_SQL.format(k="c_custkey")
_SCD2_BUCKET_SPARK = _BUCKET_SPARK.format(k="c_custkey")
_SCD2_T1 = "2024-01-01"  # initial load
_SCD2_T2 = "2024-06-01"  # restatement batch
_SCD2_ASOF = "2024-03-01"  # point-in-time read between the two

_SCD2_ORACLE = f"""
WITH b AS (
    SELECT c_custkey, c_mktsegment, c_acctbal, {_SCD2_BUCKET} AS bk
    FROM customer
),
v1 AS (
    SELECT c_custkey, c_mktsegment, c_acctbal FROM b WHERE bk < 95
),
v2 AS (
    SELECT c_custkey, c_mktsegment,
           CASE WHEN bk >= 5 AND bk < 10
                THEN floor(c_acctbal * 110.0 + 0.5) / 100.0
                ELSE c_acctbal END AS c_acctbal
    FROM b WHERE bk >= 5
),
changed AS (
    SELECT v2.c_custkey, v2.c_mktsegment, v2.c_acctbal
    FROM v1 JOIN v2 USING (c_custkey)
    WHERE v1.c_acctbal IS DISTINCT FROM v2.c_acctbal
),
new_keys AS (
    SELECT c_custkey, c_mktsegment, c_acctbal FROM v2
    WHERE c_custkey NOT IN (SELECT c_custkey FROM v1)
),
current_state AS (
    SELECT c_custkey, c_mktsegment, c_acctbal FROM v1
    WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL SELECT * FROM changed
    UNION ALL SELECT * FROM new_keys
),
asof_state AS (SELECT * FROM v1)
SELECT s.c_mktsegment AS segment,
       CAST(n_versions AS BIGINT) AS n_versions,
       CAST(n_current AS BIGINT) AS n_current,
       CAST(n_asof AS BIGINT) AS n_asof,
       bal_current, bal_asof
FROM (
    SELECT c_mktsegment,
           count(*) AS n_current,
           round(sum(c_acctbal), 2) AS bal_current
    FROM current_state GROUP BY c_mktsegment
) s
JOIN (
    SELECT c_mktsegment,
           count(*) AS n_asof,
           round(sum(c_acctbal), 2) AS bal_asof
    FROM asof_state GROUP BY c_mktsegment
) a ON a.c_mktsegment = s.c_mktsegment
JOIN (
    SELECT c_mktsegment,
           (SELECT count(*) FROM v1 v WHERE v.c_mktsegment = g.c_mktsegment)
           + (SELECT count(*) FROM changed c WHERE c.c_mktsegment = g.c_mktsegment)
           + (SELECT count(*) FROM new_keys n WHERE n.c_mktsegment = g.c_mktsegment)
               AS n_versions
    FROM (SELECT DISTINCT c_mktsegment FROM b) g
) h ON h.c_mktsegment = s.c_mktsegment
"""


@register(
    "q_scd2_point_in_time",
    oracle=_SCD2_ORACLE,
    tags=("sink", "warehouse", "scd2", "time-travel", "dimension"),
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history verified INSIDE the oracle gate: build a
    customer dimension with two deterministic loads through the REAL
    ``Warehouse.scd2_upsert`` path (initial load at {_SCD2_T1}, a
    restatement batch at {_SCD2_T2}: ~5% of balances restated ×1.1,
    ~5% brand-new keys), then answer BOTH a point-in-time read
    (state as of {_SCD2_ASOF} — before the restatement) and the current
    state, per segment, from the history table's validity intervals.
    The oracle derives both states by SET ALGEBRA over the base table —
    it never simulates valid_from/valid_to — so a hash match proves the
    SCD2 close/open mechanics themselves, not just the arithmetic.

    The table is REBUILT from scratch each call (the upsert sequence is
    deliberately not idempotent across epochs — replaying batch 1 onto
    a table that already absorbed batch 2 would re-open old versions,
    the documented SCD2 replay hazard), which also makes the catalog
    entry safe for driver cold/warm double-execution.

    100 TB shape: dimensions are MBs-to-GBs; the upsert broadcasts the
    update batch against one scan of the current slice, and the
    point-in-time read is a validity-interval filter any engine pushes
    to the scan (at lakehouse scale: partition history by valid_from
    year for pruning).
    """
    import hashlib
    import shutil
    import tempfile

    from cost_of_living_data_etl_spark.sources.warehouse import Warehouse

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]  # per-session path: no cross-session overwrite race
    root = f"{tempfile.gettempdir()}/spark_graft_scd2_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root)

    b = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.expr(_SCD2_BUCKET_SPARK).alias("bk"),
    )
    v1 = b.filter(F.col("bk") < 95).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    # restatement via ONE shared IEEE-identical text — Spark round()
    # rounds the shortest-decimal repr while DuckDB rounds the binary
    # product, and TPC-H balances ending in 5 cents systematically hit
    # 3-decimal midpoints where the two disagree by a cent; floor(x*110
    # + 0.5)/100 evaluates identically on both engines
    v2 = b.filter(F.col("bk") >= 5).select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            (F.col("bk") >= 5) & (F.col("bk") < 10),
            F.expr("floor(c_acctbal * 110.0 + 0.5) / 100.0"),
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    wh.scd2_upsert(spark, v1, "dim_customer", ["c_custkey"], ["c_acctbal"], _SCD2_T1)
    wh.scd2_upsert(spark, v2, "dim_customer", ["c_custkey"], ["c_acctbal"], _SCD2_T2)

    hist = wh.read(spark, "dim_customer")
    asof = F.lit(_SCD2_ASOF).cast("date")
    at_asof = hist.filter(
        (F.col("valid_from") <= asof)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
    )
    current = hist.filter(F.col("is_current"))
    cur_agg = current.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_current"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_current"),
    )
    asof_agg = at_asof.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_asof"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_asof"),
    )
    ver_agg = hist.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_versions")
    )
    return (
        ver_agg.join(cur_agg, "segment")
        .join(asof_agg, "segment")
        .select(
            "segment", "n_versions", "n_current", "n_asof",
            "bal_current", "bal_asof",
        )
    )


# --- Count-Min sketch with validated point queries -------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_PROBES = 10

_CMS_BUCKET_SPARK = (
    "cast(conv(substring(md5(concat(word, '#', CAST(i AS STRING))), 1, 15),"
    " 16, 10) AS BIGINT) % " + str(CMS_WIDTH)
)


def _cms_bucket_sql(word: str, i: str) -> str:
    """DuckDB twin of _CMS_BUCKET_SPARK for the given column refs.

    The bucket is an exact integer, so (unlike the float formulas
    above) the two engines' expression TEXTS only need to agree on the
    value, not on the IEEE operation order."""
    return (
        f"CAST(('0x' || substr(md5({word} || '#' || CAST({i} AS VARCHAR)),"
        f" 1, 15)) AS BIGINT) % {CMS_WIDTH}"
    )

_CMS_ORACLE = f"""
WITH wc AS (
    SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents WHERE trim(text) <> ''
    ) GROUP BY word
),
cells AS (
    SELECT i, {_cms_bucket_sql("word", "i")} AS bucket,
           CAST(sum(cnt) AS BIGINT) AS cell
    FROM wc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    GROUP BY i, bucket
),
probes AS (
    SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT {CMS_PROBES}
),
est AS (
    SELECT p.word, p.cnt AS exact_cnt, CAST(min(cell) AS BIGINT) AS cms_est
    FROM probes p
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) d
    JOIN cells ON cells.i = d.i
              AND cells.bucket = {_cms_bucket_sql("p.word", "d.i")}
    GROUP BY p.word, p.cnt
)
SELECT word, exact_cnt, cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est
"""


@register(
    "q_countmin_word_frequency",
    oracle=_CMS_ORACLE,
    tags=("sketch", "count-min", "text", "mergeable"),
)
def q_countmin_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus word stream, validated against
    exact counts: build a {CMS_DEPTH}×{CMS_WIDTH} sketch (md5-derived
    row hashes — replayable, no RNG), point-query the top-{CMS_PROBES}
    words, and report estimate vs truth. CMS never undercounts, so
    ``overcount ≥ 0`` is a structural invariant the oracle hash pins.

    Why it matters at 100 TB: the sketch is a FIXED-SIZE mergeable
    summary — per-partition sketches sum cell-wise (the groupBy here IS
    that merge), stream shards union by addition, and a day×source
    rollup of sketches answers any point query without re-reading raw
    text. Shuffle volume: depth×width cells per partition, independent
    of corpus size.
    """
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.trim(F.col("text")).alias("t"))
        .filter(F.col("t") != "")
        .select(F.explode(F.split("t", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rows = F.array([F.lit(i) for i in range(CMS_DEPTH)])
    cells = (
        wc.select("word", "cnt", F.explode(rows).alias("i"))
        .select("i", F.expr(_CMS_BUCKET_SPARK).alias("bucket"), "cnt")
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cell"))
    )
    probes = (
        wc.orderBy(F.col("cnt").desc(), "word")
        .limit(CMS_PROBES)
        .select("word", F.col("cnt").alias("exact_cnt"))
    )
    probe_buckets = probes.select(
        "word", "exact_cnt", F.explode(rows).alias("i")
    ).select("word", "exact_cnt", "i", F.expr(_CMS_BUCKET_SPARK).alias("bucket"))
    est = (
        probe_buckets.join(cells, ["i", "bucket"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    return est.select(
        "word",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


# --- split-conformal prediction interval ------------------------------------

CONF_ALPHA = "0.1"  # SQL literal: 90% marginal coverage target
_CONF_TRAIN_CUT = 80  # md5 buckets 0-79 train
_CONF_CAL_CUT = 90  # 80-89 calibration; 90-99 test

_CONF_BUCKET_SPARK = _BUCKET_SPARK.format(k="o_orderkey")
_CONF_BUCKET_SQL = _BUCKET_SQL.format(k="o_orderkey")

# train-split Gram: the SAME column names and lambda as the full-data
# ridge fit, so the Cramer-solve SQL text is literally _RIDGE_DET /
# _RIDGE_BETA — reuse it (a re-derived copy could drift independently)
_CF_DET = _RIDGE_DET
_CF_BETA = _RIDGE_BETA

_CONF_ORACLE = f"""
WITH feats AS (
    SELECT o.o_totalprice AS y,
           CAST(f.x1 AS DOUBLE) AS x1,
           CAST(f.x2 AS DOUBLE) AS x2,
           {_CONF_BUCKET_SQL} AS bkt
    FROM (SELECT l_orderkey,
                 sum(l_quantity) AS x1,
                 count(*)        AS x2
          FROM lineitem GROUP BY l_orderkey) f
    JOIN orders o ON o.o_orderkey = f.l_orderkey
),
gram AS (
    SELECT {_GRAM_SQL}
    FROM feats WHERE bkt < {_CONF_TRAIN_CUT}
),
beta AS (
    SELECT CAST(nd AS BIGINT) AS n_train,
           {_CF_BETA["beta0"]} / {_CF_DET} AS b0,
           {_CF_BETA["beta1"]} / {_CF_DET} AS b1,
           {_CF_BETA["beta2"]} / {_CF_DET} AS b2
    FROM gram
),
cal AS (
    SELECT abs(y - (b.b0 + b.b1 * x1 + b.b2 * x2)) AS resid
    FROM feats, beta b
    WHERE bkt >= {_CONF_TRAIN_CUT} AND bkt < {_CONF_CAL_CUT}
),
qhat AS (
    -- when ceil((n+1)(1-alpha)) exceeds n_cal the finite-sample
    -- guarantee requires q-hat = +infinity (cover everything); capping
    -- at the max residual would silently under-cover
    SELECT CASE WHEN CAST(ceil((n_cal + 1)
                     * (1.0 - CAST({CONF_ALPHA} AS DOUBLE))) AS BIGINT)
                     <= n_cal
                THEN resid ELSE CAST('infinity' AS DOUBLE) END AS q,
           n_cal
    FROM (
        SELECT resid,
               row_number() OVER (ORDER BY resid) AS rk,
               count(*) OVER () AS n_cal
        FROM cal)
    WHERE rk = least(CAST(ceil((n_cal + 1)
                    * (1.0 - CAST({CONF_ALPHA} AS DOUBLE))) AS BIGINT), n_cal)
),
test AS (
    SELECT count(*) AS n_test,
           sum(CASE WHEN abs(y - (b.b0 + b.b1 * x1 + b.b2 * x2)) <= q.q
                    THEN 1 ELSE 0 END) AS covered
    FROM feats, beta b, qhat q
    WHERE bkt >= {_CONF_CAL_CUT}
)
SELECT b.n_train,
       CAST(q.n_cal AS BIGINT) AS n_cal,
       CAST(t.n_test AS BIGINT) AS n_test,
       q.q AS qhat,
       CAST(t.covered AS DOUBLE) / t.n_test AS coverage
FROM beta b, qhat q, test t
"""


@register(
    "q_conformal_interval_ridge",
    oracle=_CONF_ORACLE,
    tags=("ml", "uncertainty", "conformal"),
)
def q_conformal_interval_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval around the ridge model:
    fit on the train split, take q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    absolute calibration residual, and every prediction ± q̂ is a
    marginal 90%-coverage interval with a FINITE-SAMPLE guarantee that
    needs no distributional assumption about the residuals — the
    model-agnostic uncertainty wrapper modern ML serving puts around
    point predictors. The emitted test-split coverage is the empirical
    check of that guarantee.

    Composition of house primitives: md5-bucket split (0-79/80-89/
    90-99, mirroring the NB splits), det_sum train Gram + the shared
    Cramer solve (so β is oracle-hash-exact), q̂ an exact order
    statistic, coverage a ratio of exact counts.

    100 TB: fit is the 9-scalar Gram reduction; q̂ is a distributed
    order statistic over the calibration split (bucket-partitioned
    zipWithIndex, operators/distributed_rank.py — no single-partition
    rank window; at huge n_cal the quantile sketch could replace the
    exact rank with bounded error — conformal tolerates a conservative
    q̂); scoring is map-side.
    """
    from cost_of_living_data_etl_spark.functions.checkpoints import (
        eager_checkpoint,
    )

    feats = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("x1"), F.count(F.lit(1)).alias("x2")
        )
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_totalprice").alias("y"),
            F.col("x1").cast("double").alias("x1"),
            F.col("x2").cast("double").alias("x2"),
            F.expr(_CONF_BUCKET_SPARK).alias("bkt"),
        )
        # the slim (y, x1, x2, bkt) design matrix feeds FOUR branches
        # (train Gram, calibration rank rollup + join + count, test
        # coverage) — materialize so the lineitem join runs once
        .transform(eager_checkpoint)
    )
    gram = feats.filter(F.col("bkt") < _CONF_TRAIN_CUT).groupBy().agg(
        *_gram_aggs()
    )
    beta = gram.select(
        F.col("nd").cast("long").alias("n_train"),
        F.expr(f'{_CF_BETA["beta0"]} / {_CF_DET}').alias("b0"),
        F.expr(f'{_CF_BETA["beta1"]} / {_CF_DET}').alias("b1"),
        F.expr(f'{_CF_BETA["beta2"]} / {_CF_DET}').alias("b2"),
    )
    pred_err = F.abs(
        F.col("y")
        - (
            F.col("b0")
            + F.col("b1") * F.col("x1")
            + F.col("b2") * F.col("x2")
        )
    )
    cal = (
        feats.filter(
            (F.col("bkt") >= _CONF_TRAIN_CUT) & (F.col("bkt") < _CONF_CAL_CUT)
        )
        .crossJoin(F.broadcast(beta))
        .select("n_train", pred_err.alias("resid"))
    )
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    need = F.ceil(
        (F.col("n_cal") + 1) * (1.0 - F.expr(f"CAST({CONF_ALPHA} AS DOUBLE)"))
    ).cast("long")
    # distributed order statistic: bucket-partitioned zipWithIndex over
    # the calibration residuals (floor(resid) is the monotone bucket;
    # ties rank arbitrarily but the value at the target rank is unique).
    # n_cal rides along from the helper's own bucket rollup (n_col) —
    # no separate cal.agg job + broadcast
    qhat = (
        with_global_position(
            cal,
            ["resid"],
            F.floor(F.col("resid")),
            pos_col="__rnk_pos",
            n_col="n_cal",
        )
        .filter(F.col("__rnk_pos") == F.least(need, F.col("n_cal")) - 1)
        .select(
            "n_train",
            # rank beyond n_cal -> q-hat = +infinity (cover everything);
            # capping at the max residual would void the guarantee
            F.when(need <= F.col("n_cal"), F.col("resid"))
            .otherwise(F.expr("CAST('infinity' AS DOUBLE)"))
            .alias("q"),
            "n_cal",
        )
    )
    test = (
        feats.filter(F.col("bkt") >= _CONF_CAL_CUT)
        .crossJoin(F.broadcast(beta.select("b0", "b1", "b2")))
        .crossJoin(F.broadcast(qhat))
        .groupBy("n_train", "q", "n_cal")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(pred_err <= F.col("q"), 1).otherwise(0)).alias(
                "covered"
            ),
        )
    )
    return test.select(
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("n_test").cast("long").alias("n_test"),
        F.col("q").alias("qhat"),
        (F.col("covered").cast("double") / F.col("n_test")).alias("coverage"),
    )


# --- logistic regression via IRLS (unrolled Newton rounds) -------------------

IRLS_ITERS = 2  # fixed Newton rounds — part of the oracle contract

#: weighted-Gram column names, shared by both engines' per-round pass
_WG = ("sw", "s1", "s2", "s11", "s12", "s22", "sz", "s1z", "s2z")

#: diagonal damping (Levenberg-style micro-ridge): collinear features
#: — e.g. a constant line-count column duplicating the intercept —
#: make XᵀWX exactly singular and Cramer's rule a 0/0. 1e-6 on the
#: diagonal keeps the solve defined under collinearity while
#: perturbing well-posed fits below any reported precision; in the
#: shared text, so both engines solve the identical damped system.
IRLS_DAMP = "CAST(1e-6 AS DOUBLE)"

_WG_C0 = (f"(sw + {IRLS_DAMP})", "s1", "s2")
_WG_C1 = ("s1", f"(s11 + {IRLS_DAMP})", "s12")
_WG_C2 = ("s2", "s12", f"(s22 + {IRLS_DAMP})")
_WG_B = ("sz", "s1z", "s2z")

_IRLS_DET = _det3(_WG_C0, _WG_C1, _WG_C2)
_IRLS_BETA = {
    "b0": _det3(_WG_B, _WG_C1, _WG_C2),
    "b1": _det3(_WG_C0, _WG_B, _WG_C2),
    "b2": _det3(_WG_C0, _WG_C1, _WG_B),
}

#: per-row IRLS working quantities, ONE text rendered per engine; the
#: previous round's coefficients arrive as columns b0/b1/b2 (a 1-row
#: frame cross-joined in — so both engines COMPUTE eta/p/w/z from the
#: exact same doubles rather than re-parsing literals).
_ETA = "(b0 + b1 * x1 + b2 * x2)"
#: p clamped to [1e-12, 1-1e-12]: on separable data exp(-η) under/
#: overflows and p saturates to an exact 0.0/1.0, making w = p(1-p)
#: a zero divisor in the working response (ANSI Spark raises; the
#: standard IRLS safeguard). The clamp is part of the shared text so
#: both engines saturate to the same doubles.
_P = (
    f"greatest(least(1.0 / (1.0 + exp(-{_ETA})),"
    f" 1.0 - CAST(1e-12 AS DOUBLE)), CAST(1e-12 AS DOUBLE))"
)
_W = f"({_P} * (1.0 - {_P}))"
_Z = f"({_ETA} + (y - {_P}) / ({_P} * (1.0 - {_P})))"


#: per-row working stage: w and z computed ONCE per row, named, then
#: the nine reductions are simple products of named columns. Inlining
#: _W/_Z into every aggregate expression re-evaluated the clamped
#: sigmoid (exp + clamp) ~30× per row — Catalyst does not CSE across
#: aggregate expressions; measured 4.6 s → ~1 s per gram pass at
#: sf0.1. Same IEEE operations, just evaluated once.
_WZ_STAGE = f"SELECT x1, x2, {_W} AS w, {_Z} AS z"


def _wg_terms(dsum) -> list[str]:
    """The nine weighted-Gram reductions as (expr, alias) SQL over the
    named per-row w/z columns, built from the engine's det-sum
    renderer."""
    return [
        f"{dsum.format(x='w')} AS sw",
        f"{dsum.format(x='w * x1')} AS s1",
        f"{dsum.format(x='w * x2')} AS s2",
        f"{dsum.format(x='w * x1 * x1')} AS s11",
        f"{dsum.format(x='w * x1 * x2')} AS s12",
        f"{dsum.format(x='w * x2 * x2')} AS s22",
        f"{dsum.format(x='w * z')} AS sz",
        f"{dsum.format(x='w * z * x1')} AS s1z",
        f"{dsum.format(x='w * z * x2')} AS s2z",
    ]


def _irls_oracle() -> str:
    """Unrolled DuckDB replay: feats → (gram_t → beta_t) × IRLS_ITERS →
    final accuracy scan, the Lloyd-chain idiom."""
    sql = [
        """
WITH feats AS (
    SELECT CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
           CAST(f.x1 AS DOUBLE) / 100.0 AS x1,
           CAST(f.x2 AS DOUBLE) AS x2
    FROM (SELECT l_orderkey,
                 sum(l_quantity) AS x1,
                 count(*)        AS x2
          FROM lineitem GROUP BY l_orderkey) f
    JOIN orders o ON o.o_orderkey = f.l_orderkey
),
beta0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
                 CAST(0.0 AS DOUBLE) AS b2)"""
    ]
    for t in range(1, IRLS_ITERS + 1):
        terms = ",\n           ".join(_wg_terms(_DSUM_SQL))
        sql.append(
            f""",
wz{t} AS (
    {_WZ_STAGE}
    FROM feats CROSS JOIN beta{t - 1}
),
g{t} AS (
    SELECT {terms}
    FROM wz{t}
),
beta{t} AS (
    SELECT {_IRLS_BETA["b0"]} / {_IRLS_DET} AS b0,
           {_IRLS_BETA["b1"]} / {_IRLS_DET} AS b1,
           {_IRLS_BETA["b2"]} / {_IRLS_DET} AS b2
    FROM g{t}
)"""
        )
    last = f"beta{IRLS_ITERS}"
    sql.append(
        f"""
SELECT CAST((SELECT count(*) FROM feats) AS BIGINT) AS n_orders,
       b0 AS beta0, b1 AS beta1, b2 AS beta2,
       (SELECT CAST(sum(CASE WHEN ({_P} >= 0.5) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM feats CROSS JOIN {last}) * 1.0
       / (SELECT count(*) FROM feats) AS train_accuracy
FROM {last}"""
    )
    return "".join(sql)


@register(
    "q_logistic_irls_status",
    oracle=_irls_oracle(),
    tags=("ml", "classification", "glm", "irls", "training-data"),
)
def q_logistic_irls_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of order status F vs (total quantity/100,
    line count), trained by {IRLS_ITERS} fixed IRLS (Newton) rounds —
    the classification counterpart of `q_ridge_gram_regression`, and
    the canonical quality-classifier training loop of a data-curation
    stack run entirely IN the engine.

    Each round: one aggregate pass reduces the corpus to the 3×3
    weighted Gram matrix + RHS (9 sorted-fold det_sums over
    w = p(1-p) and the working response z = η + (y-p)/w), then
    (XᵀWX)β = XᵀWz is solved by the SAME Cramer cofactor text ridge
    uses. β flows into the next round as a 1-row broadcast frame —
    both engines COMPUTE η/p/w/z from identical doubles (the oracle
    unrolls rounds as CTEs, the Lloyd-fit idiom), so coefficients and
    the final train accuracy are bit-identical.

    Scale: per round ONE partial-aggregable pass (9 running doubles
    per partition in the production plain-sum form); driver state is
    the 3-double β. Newton converges quadratically — 2 rounds from
    β = 0 already separate the classes; more rounds are more CTEs,
    not more driver memory.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    fx = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("x1_raw"),
        F.count(F.lit(1)).alias("x2_raw"),
    )
    feats = (
        fx.join(orders, fx.l_orderkey == orders.o_orderkey)
        .select(
            F.when(F.col("o_orderstatus") == "F", 1.0)
            .otherwise(0.0)
            .alias("y"),
            (F.col("x1_raw").cast("double") / 100.0).alias("x1"),
            F.col("x2_raw").cast("double").alias("x2"),
        )
        .transform(eager_checkpoint)  # consumed 2·ITERS+2 times; slim (y, x1, x2)
    )
    spark_dsum = (
        "aggregate(array_sort(collect_list({x})), CAST(0.0 AS DOUBLE),"
        " (a, x) -> a + x)"
    )
    beta = spark.createDataFrame([(0.0, 0.0, 0.0)], "b0 double, b1 double, b2 double")
    for _ in range(IRLS_ITERS):
        wz = feats.crossJoin(F.broadcast(beta)).selectExpr(
            "x1", "x2", f"{_W} AS w", f"{_Z} AS z"
        )
        gram = wz.selectExpr(*_wg_terms(spark_dsum))
        beta = gram.selectExpr(
            f'{_IRLS_BETA["b0"]} / {_IRLS_DET} AS b0',
            f'{_IRLS_BETA["b1"]} / {_IRLS_DET} AS b1',
            f'{_IRLS_BETA["b2"]} / {_IRLS_DET} AS b2',
        ).transform(eager_checkpoint)  # 1 row; pins the round's β for reuse
    n = feats.count()
    acc = (
        feats.crossJoin(F.broadcast(beta))
        .selectExpr(f"CASE WHEN ({_P} >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END AS ok")
        .agg(F.sum("ok").cast("long").alias("n_ok"))
    )
    return (
        beta.crossJoin(F.broadcast(acc))
        .select(
            F.lit(n).cast("long").alias("n_orders"),
            F.col("b0").alias("beta0"),
            F.col("b1").alias("beta1"),
            F.col("b2").alias("beta2"),
            (F.col("n_ok") * 1.0 / n).alias("train_accuracy"),
        )
    )
