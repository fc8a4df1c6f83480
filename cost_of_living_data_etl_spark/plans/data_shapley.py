"""Source-group Data Shapley: exact data valuation for a trained model.

The data-valuation question behind every corpus-mixture decision —
"which slice of the training data is the model's accuracy actually
COMING from?" — answered with the Shapley value of the Ghorbani & Zou
(2019) data-Shapley game: players are slices of the training corpus,
v(S) = held-out accuracy of the model trained on the union of the
slices in S, and a slice's value is its average marginal accuracy
contribution over all join orders.

What makes this tractable as pure SQL/DataFrame plans is the model
choice: the catalog's multinomial Naive Bayes langid classifier
(`plans/mllite.py::q_naive_bayes_langid`, same split / tokenizer /
vocabulary / Laplace-1 smoothing / argmax-tiebreak conventions) has
MERGEABLE sufficient statistics — per-slice (lang, word) count tables
— so "train on coalition S" is an integer sum over S's count tables,
never a re-scan: ONE training pass yields all 2ⁿ coalition models.

Players are 4 deterministic source GROUPS (`source` suffix mod 4 —
think provider buckets / crawl snapshots): 20 raw sources would need
2²⁰ coalitions, and the standard move at that scale is permutation-
sampled Shapley over the same mergeable stats; the exact 16-coalition
instrument here is the verifiable core of that estimator. v(∅) is 0
by convention (no candidate languages ⇒ no predictions), so the
Shapley efficiency identity reads Σφ_g = v(full).

Exactness/parity: all count merges are BIGINT sums; every float is a
shared text (`_NB_LNP` likelihood, prior ln ratio, det_sum-folded
per-(doc, coalition, lang) log-likelihood sums and per-player
weighted-marginal folds); the factorial weights are built once in
Python and fed to both engines (repr round-trip, the
`q_shapley_channel_attribution` pattern); argmax ties break on
(score DESC, lang).

100 TB: the training pass is one token shuffle bounded by |vocab|
(the NB scale shape); all 16 coalition models TOGETHER are a
16×|langs|×|vocab| broadcast table (~16k rows); scoring multiplies
the FIXED-SIZE eval set by 16 coalitions — eval cost is constant in
corpus size by design (that is what held-out evaluation means).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import (
    _DSUM_SQL,
    _NB_BUCKET_SPARK,
    _NB_BUCKET_SQL,
    _NB_LNP,
    _TEST_CUT,
    _TRAIN_CUT,
    NB_V,
)
from cost_of_living_data_etl_spark.sources.tables import load_table

N_GROUPS = 4
FULL_MASK = (1 << N_GROUPS) - 1

#: fixed held-out panel size (smallest doc_ids of the test split) —
#: eval cost is constant in corpus size by construction
EVAL_PANEL = 200

#: deterministic player assignment: source names are 'src{i}'
_GRP_EXPR = "CAST(substring(source, 4) AS INT) % 4"

#: shared prior text: ln of the coalition's language share (exact
#: BIGINT counts, one division)
_PRIOR_LN = "ln(CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE))"


def _shap_const_rows() -> list[tuple[int, int, int, float]]:
    """(grp, mask_with, mask_without, weight) over every coalition not
    containing the player; weight = |S|!·(n−1−|S|)!/n! (exact small
    rationals in float64, one Python source for both engines)."""
    rows = []
    for g in range(N_GROUPS):
        for s in range(1 << N_GROUPS):
            if s & (1 << g):
                continue
            k = bin(s).count("1")
            w = (
                math.factorial(k)
                * math.factorial(N_GROUPS - 1 - k)
                / math.factorial(N_GROUPS)
            )
            rows.append((g, s | (1 << g), s, w))
    return rows


def _memb_rows() -> list[tuple[int, int]]:
    """(mask, grp) membership pairs — bit tests done ONCE in Python so
    neither engine needs a shift/AND operator."""
    return [
        (m, g)
        for m in range(1 << N_GROUPS)
        for g in range(N_GROUPS)
        if m & (1 << g)
    ]


def _data_shapley_oracle() -> str:
    const = ",\n        ".join(
        f"({g}, {mw}, {mo}, CAST({w!r} AS DOUBLE))"
        for g, mw, mo, w in _shap_const_rows()
    )
    memb = ", ".join(f"({m}, {g})" for m, g in _memb_rows())
    masks = ", ".join(f"({m})" for m in range(1 << N_GROUPS))
    grps = ", ".join(f"({g})" for g in range(N_GROUPS))
    return f"""
WITH const(grp, mask_with, mask_without, w) AS (
    VALUES {const}
),
memb(mask, grp) AS (VALUES {memb}),
masks(mask) AS (VALUES {masks}),
grps(grp) AS (VALUES {grps}),
docs AS (
    SELECT doc_id, lang, {_GRP_EXPR} AS grp, trim(text) AS t
    FROM documents WHERE trim(text) <> ''
),
train AS (SELECT * FROM docs WHERE {_NB_BUCKET_SQL} < {_TRAIN_CUT}),
test AS (
    -- FIXED-SIZE eval panel (deterministic doc_id order): the whole
    -- point of held-out evaluation is that its cost does not grow
    -- with the corpus — the cap makes that literal at any SF
    SELECT doc_id, lang AS true_lang, t
    FROM docs WHERE {_NB_BUCKET_SQL} >= {_TEST_CUT}
    ORDER BY doc_id LIMIT {EVAL_PANEL}
),
train_tokens AS (
    SELECT grp, lang, unnest(string_split_regex(t, '\\s+')) AS word
    FROM train
),
vocab AS (
    SELECT word FROM (
        SELECT word, count(*) AS cnt FROM train_tokens GROUP BY word
        ORDER BY cnt DESC, word LIMIT {NB_V}
    )
),
cglw AS (
    SELECT grp, lang, word, CAST(count(*) AS BIGINT) AS c
    FROM train_tokens JOIN vocab USING (word)
    GROUP BY 1, 2, 3
),
ngl AS (
    SELECT grp, lang, CAST(count(*) AS BIGINT) AS n
    FROM train GROUP BY 1, 2
),
cs AS (
    SELECT mask, lang, word, CAST(sum(c) AS BIGINT) AS c
    FROM memb JOIN cglw USING (grp) GROUP BY 1, 2, 3
),
toks AS (
    SELECT mask, lang, CAST(sum(c) AS BIGINT) AS tok
    FROM cs GROUP BY 1, 2
),
ns AS (
    SELECT mask, lang, CAST(sum(n) AS BIGINT) AS n
    FROM memb JOIN ngl USING (grp) GROUP BY 1, 2
),
ntots AS (SELECT mask, CAST(sum(n) AS BIGINT) AS ntot FROM ns GROUP BY 1),
prior AS (
    -- candidate languages per coalition = those with in-vocab tokens
    -- in the coalition (the tok-less-lang rule of the base NB query)
    SELECT ns.mask, ns.lang, {_PRIOR_LN} AS lp
    FROM ns
    JOIN ntots USING (mask)
    JOIN toks ON toks.mask = ns.mask AND toks.lang = ns.lang
),
lik AS (
    SELECT mask, lang, word, {_NB_LNP} AS lnp
    FROM (
        SELECT t.mask, t.lang, v.word, cs.c AS c, t.tok AS tok
        FROM toks t
        CROSS JOIN vocab v
        LEFT JOIN cs ON cs.mask = t.mask AND cs.lang = t.lang
                    AND cs.word = v.word
    ) g
),
test_tokens AS (
    SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS word FROM test
),
test_wc AS (
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
    FROM test_tokens JOIN vocab USING (word)
    GROUP BY 1, 2
),
partial AS (
    SELECT w.doc_id, lik.mask, lik.lang,
           {_DSUM_SQL.format(x="CAST(cnt AS DOUBLE) * lnp")} AS s
    FROM test_wc w JOIN lik USING (word)
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT t.doc_id, t.true_lang, pr.mask, pr.lang AS cand,
           pr.lp + COALESCE(s, CAST(0.0 AS DOUBLE)) AS score
    FROM test t
    CROSS JOIN prior pr
    LEFT JOIN partial ON partial.doc_id = t.doc_id
                     AND partial.mask = pr.mask
                     AND partial.lang = pr.lang
),
pred AS (
    SELECT doc_id, true_lang, mask, cand FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id, mask ORDER BY score DESC, cand
        ) AS rn FROM scored
    ) q WHERE rn = 1
),
ntest AS (SELECT CAST(count(*) AS BIGINT) AS n FROM test),
hits AS (
    SELECT mask,
           CAST(sum(CASE WHEN cand = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS hit
    FROM pred GROUP BY mask
),
vacc AS (
    -- v(∅) and any candidate-less coalition: no predictions ⇒ 0
    SELECT m.mask,
           COALESCE(CAST(hit AS DOUBLE) / n, CAST(0.0 AS DOUBLE)) AS v
    FROM masks m CROSS JOIN ntest LEFT JOIN hits USING (mask)
),
phi AS (
    SELECT c.grp, {_DSUM_SQL.format(x="w * (vw.v - vo.v)")} AS shapley_acc
    FROM const c
    JOIN vacc vw ON vw.mask = c.mask_with
    JOIN vacc vo ON vo.mask = c.mask_without
    GROUP BY c.grp
),
ntr AS (SELECT grp, CAST(sum(n) AS BIGINT) AS n_train_docs FROM ngl GROUP BY 1)
SELECT CAST(g.grp AS BIGINT) AS grp,
       COALESCE(ntr.n_train_docs, 0) AS n_train_docs,
       solo.v AS acc_solo,
       fullv.v AS acc_full,
       phi.shapley_acc
FROM grps g
LEFT JOIN ntr USING (grp)
JOIN memb sm ON sm.grp = g.grp AND sm.mask IN (1, 2, 4, 8)
JOIN vacc solo ON solo.mask = sm.mask
JOIN phi ON phi.grp = g.grp
CROSS JOIN (SELECT v FROM vacc WHERE mask = {FULL_MASK}) fullv
ORDER BY grp
"""


@register(
    "q_data_shapley_source_groups",
    oracle=_data_shapley_oracle(),
    tags=("data-valuation", "shapley", "ml", "training-data", "curation"),
)
def q_data_shapley_source_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact source-group Data Shapley for the Naive-Bayes langid
    model: per group, its held-out-accuracy Shapley value (average
    marginal contribution over all training orders), its solo
    accuracy v({g}), and the full-model accuracy — the "which data is
    the accuracy coming from" readout behind mixture reweighting and
    deduplication-budget decisions. One training pass builds per-group
    mergeable count tables; all 16 coalition models are integer merges
    of those tables; the fixed-size eval set is scored against the
    broadcast 16-model likelihood table. See the module docstring."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.expr(_GRP_EXPR).alias("grp"),
            F.trim(F.col("text")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    bucket = F.expr(_NB_BUCKET_SPARK)
    train = docs.filter(bucket < _TRAIN_CUT)
    # The eval panel (≤ EVAL_PANEL rows), the per-(grp, lang, word)
    # count table (≤ 4·|langs|·NB_V rows), the per-(grp, lang) doc
    # counts, and the 16-row coalition-accuracy table below are each
    # consumed by SEVERAL downstream branches; without materialization
    # every branch re-derives the full corpus pipeline (the analyzed
    # plan held ~12 token-explode scans — plans/r09/
    # q_data_shapley_source_groups_before.txt). All four are bounded
    # (constant in corpus size), so the localCheckpoint is the
    # dedup-signature idiom, not a data-scaled persist.
    test_lazy = (
        docs.filter(bucket >= _TEST_CUT)
        .select("doc_id", F.col("lang").alias("true_lang"), "t")
        .orderBy("doc_id")
        .limit(EVAL_PANEL)
    )

    train_tokens = train.select(
        "grp", "lang", F.explode(F.split("t", r"\s+")).alias("word")
    )
    # ONE token-explode pass: the per-(grp, lang, word) count table
    # subsumes the global word counts (vocab = top-V of its word-sums,
    # exact BIGINT merge — same (count DESC, word) order as counting
    # the tokens directly), so the corpus is split+exploded once
    # instead of once for vocab and again for cglw. The checkpointed
    # table is vocabulary-scaled (|words|·grp·lang), the winnowing-
    # fingerprint class of persist: far smaller than a second full
    # text pass at any scale.
    cglw_lazy = train_tokens.groupBy("grp", "lang", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ngl_lazy = train.groupBy("grp", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # The three bounded materializations are INDEPENDENT full-corpus
    # rollups; each is a serial, single-split scan+agg pipeline, so run
    # one after another they are three job barriers with idle cores.
    # Running them at once overlaps the pipelines. The two phase-2
    # driver actions (vocab top-V and the eval-panel count, both over
    # just-checkpointed bounded frames) overlap the same way.
    # Order-alternating interleaved A/B: med 4.28 → 3.92 s, min
    # 3.96 → 3.23, rows identical (CHECK).
    test, cglw_all, ngl = run_concurrently(
        lambda: eager_checkpoint(test_lazy),
        lambda: eager_checkpoint(cglw_lazy),
        lambda: eager_checkpoint(ngl_lazy),
    )
    vocab, n_test = run_concurrently(
        lambda: [
            r["word"]
            for r in cglw_all.groupBy("word")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "word")
            .limit(NB_V)
            .collect()
        ],
        test.count,
    )
    cglw = cglw_all.filter(F.col("word").isin(vocab))

    memb = spark.createDataFrame(_memb_rows(), "mask int, grp int")
    masks = spark.createDataFrame(
        [(m,) for m in range(1 << N_GROUPS)], "mask int"
    )
    cs = (
        F.broadcast(memb)
        .join(cglw, "grp")
        .groupBy("mask", "lang", "word")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    toks = cs.groupBy("mask", "lang").agg(
        F.sum("c").cast("long").alias("tok")
    )
    ns = (
        F.broadcast(memb)
        .join(ngl, "grp")
        .groupBy("mask", "lang")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    ntots = ns.groupBy("mask").agg(F.sum("n").cast("long").alias("ntot"))
    prior = (
        ns.join(ntots, "mask")
        .join(toks.select("mask", "lang"), ["mask", "lang"])
        .select("mask", "lang", F.expr(_PRIOR_LN).alias("lp"))
    )
    vocab_df = spark.createDataFrame([(w,) for w in vocab], "word string")
    lik = (
        toks.crossJoin(F.broadcast(vocab_df))
        .join(cs, ["mask", "lang", "word"], "left")
        .select("mask", "lang", "word", F.expr(_NB_LNP).alias("lnp"))
    )

    test_wc = (
        test.select("doc_id", F.explode(F.split("t", r"\s+")).alias("word"))
        .filter(F.col("word").isin(vocab))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    partial = (
        test_wc.join(F.broadcast(lik), "word")
        .groupBy("doc_id", "mask", "lang")
        .agg(det_sum("CAST(cnt AS DOUBLE) * lnp").alias("s"))
    )
    scored = (
        test.select("doc_id", "true_lang")
        .crossJoin(F.broadcast(prior.withColumnRenamed("lang", "cand")))
        .join(
            partial.withColumnRenamed("lang", "cand"),
            ["doc_id", "mask", "cand"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "mask",
            "cand",
            (
                F.col("lp")
                + F.coalesce(F.col("s"), F.expr("CAST(0.0 AS DOUBLE)"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id", "mask").orderBy(
        F.col("score").desc(), "cand"
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("mask", "true_lang", "cand")
    )
    # n_test was computed above, overlapped with the vocab collect
    hits = pred.groupBy("mask").agg(
        F.sum((F.col("cand") == F.col("true_lang")).cast("int"))
        .cast("long")
        .alias("hit")
    )
    vacc = (
        F.broadcast(masks)
        .join(hits, "mask", "left")
        .select(
            "mask",
            F.coalesce(
                F.expr(f"CAST(hit AS DOUBLE) / {n_test}"),
                F.expr("CAST(0.0 AS DOUBLE)"),
            ).alias("v"),
        )
        .transform(eager_checkpoint)
    )
    const = spark.createDataFrame(
        _shap_const_rows(),
        "grp int, mask_with int, mask_without int, w double",
    )
    phi = (
        F.broadcast(const)
        .join(
            vacc.select(
                F.col("mask").alias("mask_with"), F.col("v").alias("vw")
            ),
            "mask_with",
        )
        .join(
            vacc.select(
                F.col("mask").alias("mask_without"), F.col("v").alias("vo")
            ),
            "mask_without",
        )
        .groupBy("grp")
        .agg(det_sum("w * (vw - vo)").alias("shapley_acc"))
    )
    grps = spark.createDataFrame(
        [(g, 1 << g) for g in range(N_GROUPS)], "grp int, solo_mask int"
    )
    ntr = ngl.groupBy("grp").agg(
        F.sum("n").cast("long").alias("n_train_docs")
    )
    return (
        F.broadcast(grps)
        .join(ntr, "grp", "left")
        .join(
            vacc.select(
                F.col("mask").alias("solo_mask"), F.col("v").alias("acc_solo")
            ),
            "solo_mask",
        )
        .join(phi, "grp")
        .crossJoin(
            F.broadcast(
                vacc.filter(F.col("mask") == FULL_MASK).select(
                    F.col("v").alias("acc_full")
                )
            )
        )
        .select(
            F.col("grp").cast("long").alias("grp"),
            F.coalesce(F.col("n_train_docs"), F.lit(0))
            .cast("long")
            .alias("n_train_docs"),
            "acc_solo",
            "acc_full",
            "shapley_acc",
        )
        .orderBy("grp")
    )
