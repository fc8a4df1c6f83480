"""Pair mining and robustness diagnostics: mutual nearest neighbors,
MAD-robust outliers, and dup-graph assortativity.

Three curation-side passes over artifacts earlier families produce:

- **mutual nearest neighbors** over the embedding corpus — the bitext/
  pair-mining rule (each side's argmax must agree) that turns one-way
  similarity into high-precision pairs; the filter LABSE/CCMatrix-style
  parallel-corpus mining applies on top of ANN candidates;
- **MAD-robust outlier days** — median-absolute-deviation flagging of
  the daily revenue series: the robust counterpart of
  `q_revenue_anomaly_days`' z-scores (mean/σ move with the outliers
  they're meant to catch; medians don't, up to 50% corruption);
- **degree assortativity** of the near-dup pair graph — one Pearson
  correlation over edge-endpoint degrees that says whether duplication
  is hub-shaped (templates radiating copies, r < 0) or clique-shaped
  (mirror clusters, r > 0) — which decides canonical-pick strategy
  before anyone reads pairs.

Float discipline: argmax/median/MAD are selections of existing values
under total orders (no interpolation); assortativity reduces edges to
six exact BIGINT sums entering ONE shared float expression.

``q_mutual_nn_ann`` is the production form of the mutual-NN rule: the
same reciprocal argmax fed from IVF-cell candidates instead of the
dense |A|×|B| stream, the CCMatrix/LABSE-style topology. Cells are
Voronoi regions of the shared deterministic Lloyd quantizer, so the
pair count Σ_cell |A_c|·|B_c| stays near-linear when the cell count
scales with corpus size; the dense variant refuses inputs above
``MAX_MUTUAL_NN_ROWS``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
    until_settled,
)
from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently
from cost_of_living_data_etl_spark.operators.dedup import (
    _MINHASH_ORACLE,
    minhash_pair_plan,
)
from cost_of_living_data_etl_spark.operators.similarity import (
    _assign_cells,
    _fit_ivf_centroids,
    _lloyd_cte_chain,
    corpus_cache_key,
    dot_expr,
    IVF_K,
    with_norm,
)
from cost_of_living_data_etl_spark.plans.analytics_extra import (
    _DAILY_CTE,
    _daily_revenue,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# --- mutual nearest neighbors ----------------------------------------------

#: dense-instrument bound, same contract as similarity.MAX_EXACT_PAIRS_ROWS:
#: beyond this the exact a×b cross product is refused and the ANN-fed
#: variant (q_mutual_nn_ann, below) is the supported path.
MAX_MUTUAL_NN_ROWS = 100_000

#: DuckDB twin of ``mutual_best``, over a ``pairs`` (a_id, b_id,
#: cos_sim) relation: the pairs that are each side's best match
_MUTUAL_BEST_SQL = """
best_a AS (
    SELECT a_id, b_id, cos_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id
                                     ORDER BY cos_sim DESC, b_id) AS rk
        FROM pairs) WHERE rk = 1
),
best_b AS (
    SELECT a_id, b_id FROM (
        SELECT *, row_number() OVER (PARTITION BY b_id
                                     ORDER BY cos_sim DESC, a_id) AS rk
        FROM pairs) WHERE rk = 1
)
SELECT CAST(x.a_id AS BIGINT) AS a_id, CAST(x.b_id AS BIGINT) AS b_id,
       x.cos_sim AS cos_sim
FROM best_a x JOIN best_b y ON x.a_id = y.a_id AND x.b_id = y.b_id
ORDER BY a_id
"""


def mutual_best(pairs: DataFrame) -> DataFrame:
    """The (a_id, b_id, cos_sim) rows of a scored pair stream in which
    b is a's best match AND a is b's, ordered by a_id. Each argmax is
    a ``max(struct(cos, -id))`` partial aggregate (map-side combined),
    so ties go to the smaller id, as in ``_MUTUAL_BEST_SQL``."""
    best_a = (
        pairs.groupBy("a_id")
        .agg(F.max(F.struct("cos_sim", (-F.col("b_id")).alias("nb"))).alias("m"))
        .select(
            "a_id",
            (-F.col("m.nb")).alias("b_id"),
            F.col("m.cos_sim").alias("cos_sim"),
        )
    )
    best_b = (
        pairs.groupBy("b_id")
        .agg(F.max(F.struct("cos_sim", (-F.col("a_id")).alias("na"))).alias("m"))
        .select(F.col("b_id").alias("bb_id"), (-F.col("m.na")).alias("ba_id"))
    )
    return (
        best_a.join(
            best_b,
            (best_a.a_id == best_b.ba_id) & (best_a.b_id == best_b.bb_id),
        )
        .select(
            F.col("a_id").cast("long").alias("a_id"),
            F.col("b_id").cast("long").alias("b_id"),
            "cos_sim",
        )
        .orderBy("a_id")
    )

_MNN_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             AS norm
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           list_inner_product(a.emb, b.emb) / (a.norm * b.norm) AS cos_sim
    FROM e a JOIN e b ON a.vec_id % 4 = 0 AND b.vec_id % 4 = 1
),
{_MUTUAL_BEST_SQL}"""


@register(
    "q_mutual_nn_pairs",
    oracle=_MNN_ORACLE,
    tags=("similarity", "pair-mining", "bitext"),
)
def q_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors between two deterministic corpus
    slices (vec_id % 4 == 0 vs == 1 — quarter-sides keep the dense
    exact instrument's pair count bounded; the mutual-filter semantics
    don't depend on side size): pair (a, b) survives iff b is a's best
    cosine match AND a is b's — the reciprocal filter that makes mined
    pairs precise (one-way argmax pairs everything, including points
    whose best match merely happens to be nearest in a sparse region).

    Argmaxes are `max(struct(cos, -id))` partial aggregates — one per
    side from ONE scored pair stream, combined map-side, ties broken
    toward the smaller id on both engines.

    100 TB: the exact pair stream here is the fixture-scale instrument
    (one broadcast of the odd side, no shuffled pairs — only the two
    per-key argmax states move), and the builder REFUSES inputs above
    MAX_MUTUAL_NN_ROWS so it cannot silently go quadratic. At corpus
    scale the mutual filter is UNCHANGED but consumes ANN candidates —
    that production path is shipped as `q_mutual_nn_ann` (below): the
    same reciprocal argmax (``mutual_best``) over IVF-cell candidate
    lists, exactly the CCMatrix recipe.
    """
    e = with_norm(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    # bounded guard action (scans ≤ MAX+1 rows, the
    # q_embed_neardup_pairs contract): the dense a×b stream is the
    # validation instrument; above the bound the catalog must refuse to
    # silently go quadratic and route to the ANN-fed variant instead.
    n = e.limit(MAX_MUTUAL_NN_ROWS + 1).count()
    if n > MAX_MUTUAL_NN_ROWS:
        raise ValueError(
            f"q_mutual_nn_pairs scores a dense |A|x|B| pair stream and the "
            f"input has > {MAX_MUTUAL_NN_ROWS} vectors — use "
            f"q_mutual_nn_ann (same reciprocal filter over IVF-cell "
            f"candidates, the CCMatrix-style production path) at this scale."
        )
    # parallel=True on the PROBE side only: the dense a×b
    # cosine pass is the serial kernel and both argmaxes are struct-max
    # partial aggregates (order-free), so the re-key is parity-safe
    # (measured 2.28→1.53 s interleaved); the broadcast b side and the
    # guard count stay on the plain scan.
    a = with_norm(
        load_table(spark, sf_dir, "embeddings", parallel=True).select(
            "vec_id", "embedding"
        )
    ).filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    )
    b = e.filter(F.col("vec_id") % 4 == 1).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    # EAGER checkpoint: both argmax aggregations consume the scored
    # stream, and Catalyst shares no common subplan across branches —
    # without it the 64-dim cosine runs TWICE over all pairs (measured
    # 8.3 s -> ~4 s warm at sf0.1); the materialized rows are slim
    # (a_id, b_id, score) triples
    pairs = a.crossJoin(F.broadcast(b)).select(
        "a_id",
        "b_id",
        (
            dot_expr("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm"))
        ).alias("cos_sim"),
    ).transform(eager_checkpoint)
    return mutual_best(pairs)


# --- MAD-robust outlier days -------------------------------------------------

MAD_K = 5.0  # flag |x - median| > K * MAD

_MAD_ORACLE = f"""
WITH {_DAILY_CTE},
med AS (
    SELECT revenue AS med FROM (
        SELECT revenue, row_number() OVER (ORDER BY revenue, day) AS rk,
               count(*) OVER () AS n
        FROM daily) WHERE rk = (n + 1) // 2
),
dev AS (
    SELECT day, revenue, abs(revenue - med) AS abs_dev FROM daily, med
),
mad AS (
    SELECT abs_dev AS mad FROM (
        SELECT abs_dev, row_number() OVER (ORDER BY abs_dev, day) AS rk,
               count(*) OVER () AS n
        FROM dev) WHERE rk = (n + 1) // 2
)
SELECT day, revenue, abs_dev, mad
FROM dev, mad
WHERE abs_dev > {MAD_K} * mad
ORDER BY day
"""


@register(
    "q_mad_robust_outlier_days",
    oracle=_MAD_ORACLE,
    tags=("statistics", "robust", "outliers"),
)
def q_mad_robust_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue sits more than 5 MADs from the median — the
    ROBUST outlier flag: `q_revenue_anomaly_days`' z-scores use a mean
    and σ the outliers themselves inflate (masking), while median and
    MAD hold up to 50% corruption; 5·MAD ≈ 3.4σ under normality.

    Median and MAD are lower-median ORDER STATISTICS selected by the
    total order (value, day) — exact elements both engines pick
    identically, no interpolation, no float folds.

    100 TB: the series is the calendar-bounded daily rollup (partial-
    aggregated), so the two selection windows and the final filter
    touch |days| rows; the two scalars broadcast back. Per-segment
    variants partition the same windows by segment.
    """
    daily = _daily_revenue(spark, sf_dir)
    n_w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def _lower_median(df: DataFrame, value: str, out: str) -> DataFrame:
        ranked = df.select(
            F.col(value),
            F.row_number().over(Window.orderBy(value, "day")).alias("rk"),
            F.count(F.lit(1)).over(n_w).alias("n"),
        )
        return ranked.filter(
            F.col("rk") == F.floor((F.col("n") + 1) / 2)
        ).select(F.col(value).alias(out))

    med = _lower_median(daily, "revenue", "med")
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day",
        "revenue",
        F.abs(F.col("revenue") - F.col("med")).alias("abs_dev"),
    )
    mad = _lower_median(dev, "abs_dev", "mad")
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("abs_dev") > MAD_K * F.col("mad"))
        .select("day", "revenue", "abs_dev", "mad")
        .orderBy("day")
    )


# --- dup-graph degree assortativity -----------------------------------------

_ASSORT_EXPR = """CASE
  WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN
    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
END"""

_ASSORT_ORACLE = f"""
WITH pairs AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ( {_MINHASH_ORACLE} )
),
edges AS (
    SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
    UNION ALL
    SELECT doc_id_2, doc_id_1 FROM pairs
),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
xy AS (
    SELECT du.d AS x, dv.d AS y
    FROM edges e JOIN deg du ON e.src = du.node
                 JOIN deg dv ON e.dst = dv.node
),
s AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM xy
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       {_ASSORT_EXPR} AS assortativity
FROM s
"""


@register(
    "q_dupgraph_assortativity",
    oracle=_ASSORT_ORACLE,
    tags=("graph", "dedup", "diagnostics"),
)
def q_dupgraph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the MinHash near-dup graph: the Pearson
    correlation of endpoint degrees over directed edges. r < 0 means
    hub-shaped duplication (templates radiating one-off copies — pick
    canonicals per hub, or regex the template away); r > 0 means
    clique-shaped mirror clusters (connected components already split
    them — pick any representative). One number that routes the dedup
    strategy, computed before anyone inspects pairs.

    Exactness: degrees and the five moment sums are BIGINTs; the
    correlation is ONE shared float expression over those exact
    integers (NULL for degenerate/regular graphs, where the variance
    term is zero).

    100 TB: reuses the banded LSH candidate plan (`minhash_pair_plan`)
    — shuffles carry id pairs and (node, degree) only; the moment
    reduction is a partial-aggregated single row.
    """
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    edges = pairs.select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    ).unionAll(
        pairs.select(
            F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
        )
    ).transform(eager_checkpoint)  # EAGER (CC convention): degree table and the
    # edge join both consume edges — without it the LSH plan re-ran
    # once per reference
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
    xy = (
        edges.join(du, edges.src == du.u)
        .join(dv, edges.dst == dv.v)
        .select("x", "y")
    )
    s = xy.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.expr(_ASSORT_EXPR).alias("assortativity"),
    )


# --- k-core of the dup graph -------------------------------------------------

KCORE_K = 2
# Peeling-round cap. The oracle unrolls exactly this many rounds, so
# the engine, which stops once no node has degree < KCORE_K and raises
# at this cap, either matches the oracle or fails.
KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    # every per-round CTE is MATERIALIZED: each round references the
    # previous edge set 3× (degree agg + two join sides), and DuckDB
    # inlines plain CTEs per reference — 8 unrolled rounds exploded to
    # 3^8 copies of the LSH subtree (measured 124 s; materialized: <1 s)
    steps = []
    for r in range(KCORE_ROUNDS):
        steps.append(
            f"""d{r} AS MATERIALIZED (SELECT src, count(*) AS c FROM e{r} GROUP BY src),
k{r} AS MATERIALIZED (SELECT src FROM d{r} WHERE c >= {KCORE_K}),
e{r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r} e
           JOIN k{r} a ON e.src = a.src JOIN k{r} b ON e.dst = b.src)"""
        )
    return f"""
WITH pairs AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ( {_MINHASH_ORACLE} )
),
e0 AS MATERIALIZED (
    SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
    UNION ALL SELECT doc_id_2, doc_id_1 FROM pairs
),
{','.join(steps)}
SELECT CAST(src AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
FROM e{KCORE_ROUNDS} GROUP BY src ORDER BY doc_id
"""


@register(
    "q_kcore_dup_graph",
    oracle=_kcore_oracle(),
    tags=("graph", "dedup", "iterative"),
)
def q_kcore_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-core of the MinHash near-dup graph: iteratively peel
    nodes with degree < 2 until only nodes embedded in cycles/cliques
    remain, reporting each survivor's within-core degree. Peripheral
    one-off copies peel away; what survives is the DENSE mirror
    structure — the families worth template extraction rather than
    pairwise dedup (complementing assortativity's one-number read
    with the actual member set).

    Peeling runs through until_settled: every edge row carries its
    src's degree as a window count, the round's checkpoint job counts
    the rows whose degree is < KCORE_K, and peeling stops at the first
    edge set where that count is 0 (the fixture's peel-chains settle in
    one round). Raises RuntimeError if KCORE_ROUNDS rounds do not
    settle the graph; the oracle unrolls KCORE_ROUNDS rounds, which
    reach the same fixed point whenever the engine settles.

    100 TB: each round shuffles (src, dst) id pairs — never documents;
    the edge set only shrinks.
    """
    by_src = Window.partitionBy("src")
    degree = F.col("degree")

    def with_degree(e: DataFrame) -> DataFrame:
        return e.withColumn("degree", F.count(F.lit(1)).over(by_src))

    def peel(e: DataFrame) -> DataFrame:
        keep = e.filter(degree >= KCORE_K)
        return with_degree(
            keep.join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
        )

    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    e = until_settled(
        # the first checkpoint runs the LSH plan once; every round then
        # reads the checkpointed edges
        with_degree(
            pairs.select(
                F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
            ).unionAll(
                pairs.select(
                    F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
                )
            )
        ),
        peel,
        F.count(F.when(degree < KCORE_K, True)),
        KCORE_ROUNDS,
        f"q_kcore_dup_graph did not converge in {KCORE_ROUNDS} peeling rounds; "
        "raise KCORE_ROUNDS (the oracle unrolls the same count)",
    )
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(
            F.col("src").cast("long").alias("doc_id"),
            F.col("core_degree").cast("long").alias("core_degree"),
        )
        .orderBy("doc_id")
    )


# --- LSH blocking quality ----------------------------------------------------


def _lsh_quality_oracle() -> str:
    from cost_of_living_data_etl_spark.operators.dedup import (
        BANDS,
        JACCARD_THRESHOLD,
        SHINGLES_SQL,
        _band_hash_sql,
        _minhash_agg_sql,
        _SHINGLE_H_SQL,
    )
    from cost_of_living_data_etl_spark.plans.structural import _SETSIM_ORACLE

    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {_band_hash_sql(b)} AS band_hash"
        " FROM mh"
        for b in range(BANDS)
    )
    return f"""
WITH lshq_sh AS MATERIALIZED (
    SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
),
lshq_ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM lshq_sh),
hx AS (SELECT doc_id, {_SHINGLE_H_SQL} AS h FROM lshq_ex),
mh AS MATERIALIZED (
    SELECT doc_id, list(DISTINCT h) AS hset, {_minhash_agg_sql()}
    FROM hx GROUP BY doc_id
),
bands AS MATERIALIZED ({bands_union}),
cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
),
found AS (
    SELECT c.d1, c.d2
    FROM cand c JOIN mh s1 ON s1.doc_id = c.d1
                JOIN mh s2 ON s2.doc_id = c.d2
    WHERE length(list_intersect(s1.hset, s2.hset)) * 1.0
          / length(list_distinct(list_concat(s1.hset, s2.hset)))
          >= {JACCARD_THRESHOLD}
),
truth AS MATERIALIZED ( {_SETSIM_ORACLE} ),
nn AS (SELECT count(*) AS n_docs FROM documents)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_all_pairs,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
       CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
           CAST((SELECT count(*) FROM found) AS DOUBLE)
             / (SELECT count(*) FROM truth)
       END AS pair_completeness,
       1.0 - CAST((SELECT count(*) FROM cand) AS DOUBLE)
           / (n_docs * (n_docs - 1) // 2) AS reduction_ratio
FROM nn
"""


@register(
    "q_lsh_blocking_quality",
    oracle=_lsh_quality_oracle(),
    tags=("dedup", "evaluation", "blocking"),
)
def q_lsh_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality of the MinHash-LSH blocking scheme against
    EXACT ground truth: pair completeness (what fraction of true
    Jaccard ≥ 0.5 pairs the banded index recovers — possible only
    because `q_setsim_prefix_join` computes the exact answer) and
    reduction ratio (what fraction of the n(n−1)/2 comparisons the
    blocking avoided). The standard entity-resolution blocking
    scorecard, turned on our own index: the recall/efficiency
    trade-off as a MEASURED number per corpus instead of the banding
    formula's theoretical curve.

    Both thresholds are {JACCARD_THRESHOLD}: LSH-found ⊆ truth (its
    verification is exact), so completeness ≤ 1 by construction.
    Every output is a ratio of exact BIGINT counts.

    100 TB: candidate counting reuses the banded self-join (short-key
    shuffles only); the truth side is the prefix-filter join — the
    whole query is two independent pair-mining plans plus five scalar
    counts.
    """
    from cost_of_living_data_etl_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        hset_jaccard,
        join_hsets,
        lsh_candidates,
        minhash_signatures,
    )
    from cost_of_living_data_etl_spark.plans.structural import (
        q_setsim_prefix_join,
    )

    # parallel=True: the signature map pass is the serial kernel and
    # every output is an exact-integer count or a ratio of two counts
    # (the signature_table re-key policy)
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    # The LSH signature checkpoint and the truth side's setsim chain
    # (whose build eager-checkpoints its own shingle table) are
    # INDEPENDENT pipelines; run in sequence they are two job
    # barriers, so they run at once. Results are bit-identical:
    # materialization order cannot affect either side's content.
    # Order-alternating interleaved A/B: med 2.47 → 2.25 s, min
    # 2.34 → 2.07, rows identical (CHECK). The signatures are
    # eager-checkpointed here instead of taken from signature_table,
    # whose persist is lazy and would not materialize alongside the
    # truth side.
    mh, truth = run_concurrently(
        lambda: minhash_signatures(docs).transform(eager_checkpoint),
        lambda: q_setsim_prefix_join(spark, sf_dir),
    )
    # ONE candidate frame feeds both counts, so the band self-join is
    # planned once and n_found ⊆ n_candidates by construction;
    # max_bucket=None because the oracle replays the uncapped join
    cand = lsh_candidates(mh, max_bucket=None)
    n_cand = cand.groupBy().agg(F.count(F.lit(1)).alias("n_candidates"))
    n_found = (
        join_hsets(cand, mh)
        .filter(hset_jaccard() >= JACCARD_THRESHOLD)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    n_true = truth.groupBy().agg(F.count(F.lit(1)).alias("n_true"))
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n_docs.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_found))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("n_docs * (n_docs - 1) div 2")
            .cast("long")
            .alias("n_all_pairs"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_found").cast("long").alias("n_found"),
            F.when(
                F.col("n_true") > 0,
                F.col("n_found").cast("double") / F.col("n_true"),
            ).alias("pair_completeness"),
            (
                1.0
                - F.col("n_candidates").cast("double")
                / F.expr("n_docs * (n_docs - 1) div 2")
            ).alias("reduction_ratio"),
        )
    )


# --- golden-record survivorship ----------------------------------------------


def _survivorship_oracle() -> str:
    from cost_of_living_data_etl_spark.operators.dedup import _CLUSTERS_ORACLE
    from cost_of_living_data_etl_spark.plans.corpus_prep import (
        _QUALITY_SQL as _CPQ,
    )

    return f"""
WITH clusters AS MATERIALIZED ( {_CLUSTERS_ORACLE} ),
scored AS (
    SELECT c.cluster_id, d.doc_id, ({_CPQ}) AS quality, d.n_chars
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
),
sized AS (
    -- cluster-level max BEFORE the rk filter: a window in the final
    -- SELECT would run after WHERE rk = 1 and see only the survivor
    SELECT *, count(*) OVER (PARTITION BY cluster_id) AS n_members,
           max(n_chars) OVER (PARTITION BY cluster_id) AS cluster_max_chars
    FROM scored
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY quality DESC, doc_id) AS rk
    FROM sized WHERE n_members > 1
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(doc_id AS BIGINT) AS survivor_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       quality AS survivor_quality,
       CAST(cluster_max_chars AS BIGINT) AS max_n_chars
FROM ranked WHERE rk = 1 ORDER BY cluster_id
"""


@register(
    "q_golden_record_survivorship",
    oracle=_survivorship_oracle(),
    tags=("dedup", "entity-resolution", "survivorship"),
)
def q_golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: the canonical document per multi-member dup
    cluster by the rule (highest quality, then lowest id), with the
    cluster's size and max length — the final stage of the entity-
    resolution pipeline this repo now covers end to end: blocking
    (`q_lsh_blocking_quality` scores it), pairing (MinHash verify),
    clustering (`q_dedup_clusters`), and now the golden-record pick
    that decides WHICH row ships.

    Exactness: the quality rule reuses the single-sourced fragment
    (identical doubles), so the argmax `max(struct(quality, -doc_id))`
    picks the same survivor on both engines; sizes/lengths are exact
    BIGINTs.

    100 TB: cluster ids come from the CC operator (edge-touching
    iteration); survivor election is one partial-agg argmax per
    cluster — text itself never moves, only (cluster, id, quality,
    n_chars) tuples.
    """
    from cost_of_living_data_etl_spark.operators.dedup import q_dedup_clusters
    from cost_of_living_data_etl_spark.operators.textstats import (
        quality_score,
    )

    clusters = q_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("quality"), "n_chars"
    )
    scored = clusters.join(docs, "doc_id")
    agg = (
        scored.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(
                    F.col("quality"), (-F.col("doc_id")).alias("nid")
                )
            ).alias("m"),
            F.max("n_chars").alias("max_n_chars"),
        )
        .filter(F.col("n_members") > 1)
    )
    return agg.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (-F.col("m.nid")).cast("long").alias("survivor_doc_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("m.quality").alias("survivor_quality"),
        F.col("max_n_chars").cast("long").alias("max_n_chars"),
    ).orderBy("cluster_id")


# --- ANN-fed mutual nearest neighbors ---------------------------------------

#: fixed-k catalog-form bound (same contract as similarity's
#: SEMDEDUP_MAX_ROWS and mining's MAX_MUTUAL_NN_ROWS): beyond this,
#: run the same plan with k ∝ N cells.
MAX_MNN_ANN_ROWS = 100_000


def _mnn_ann_oracle() -> str:
    """DuckDB replay: the shared deterministic Lloyd fit (unrolled),
    cell-restricted candidate pairs, then the reciprocal argmax filter
    — identical semantics to the Spark plan below."""
    ip = "list_inner_product"
    chain, final_a, _final_c = _lloyd_cte_chain()
    return (
        chain
        + f""",
    ea AS (
        SELECT e.vec_id AS a_id, a.cell, e.emb AS a_emb, e.norm AS a_norm
        FROM e JOIN {final_a} a USING (vec_id) WHERE e.vec_id % 4 = 0
    ),
    eb AS (
        SELECT e.vec_id AS b_id, a.cell, e.emb AS b_emb, e.norm AS b_norm
        FROM e JOIN {final_a} a USING (vec_id) WHERE e.vec_id % 4 = 1
    ),
    pairs AS (
        SELECT a_id, b_id,
               {ip}(a_emb, b_emb) / (a_norm * b_norm) AS cos_sim
        FROM ea JOIN eb USING (cell)
    ),
{_MUTUAL_BEST_SQL}"""
    )


@register(
    "q_mutual_nn_ann",
    oracle=_mnn_ann_oracle(),
    tags=("similarity", "pair-mining", "ann", "bitext"),
)
def q_mutual_nn_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors over ANN candidates: both corpus
    slices (vec_id % 4 == 0 vs == 1) are assigned to the shared
    deterministic IVF quantizer's Voronoi cells, candidate pairs are
    generated ONLY within a cell, and a pair survives iff each side is
    the other's best cosine match among its candidates — the
    CCMatrix-style recipe where the reciprocal filter consumes
    approximate candidate lists instead of a dense cross product.

    Scale shape (this is the production path the dense
    ``q_mutual_nn_pairs`` guard points to): the quantizer is a cached
    offline artifact (``_fit_ivf_centroids``), assignment is one
    broadcast map pass, and the only shuffle of the pair stage is the
    equi-join on ``cell`` — Σ|A_c|·|B_c| candidate pairs instead of
    |A|·|B|; with k ∝ N cells that is near-linear in corpus size.
    Both argmaxes are ``max(struct(cos, -id))`` partial aggregates
    (map-side combined) over the cell-local pair stream; only (id, id,
    cos) triples ever shuffle. Recall vs the dense instrument is
    measured in tests/test_mining.py.
    """
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    # bounded guard action (scans ≤ MAX+1 rows, the SemDeDup contract):
    # this catalog query PINS IVF_K=8 for oracle replay, so same-cell
    # pair work is still quadratic/k — measured 3.5 s @ 8k vectors →
    # 14.9 s @ 16k (4.3× per doubling, a constant ≈8× under the dense
    # instrument). The production form is unchanged code with k ∝ N
    # (constant-size cells ⇒ near-linear pair stream).
    # a session primed via use_quantizer_artifact with a k ∝ N
    # artifact is this guard's named scale path — stand down and use
    # it. Standard-k primes keep the refusal (same shared predicate as
    # the SemDeDup guard, so the two sites cannot drift).
    from cost_of_living_data_etl_spark.operators.similarity import (
        is_artifact_primed,
    )

    primed = is_artifact_primed(sf_dir, scale_path_only=True)
    n = 0 if primed else e.limit(MAX_MNN_ANN_ROWS + 1).count()
    if n > MAX_MNN_ANN_ROWS:
        raise ValueError(
            f"q_mutual_nn_ann pins IVF_K={IVF_K} for oracle replay, so "
            f"same-cell pair work grows quadratically/k — at "
            f"> {MAX_MNN_ANN_ROWS} vectors fit a k ∝ N quantizer offline "
            f"(constant-size Voronoi cells keep the candidate stream "
            f"near-linear): `python -m "
            f"cost_of_living_data_etl_spark.jobs.fit_quantizer --sf-dir "
            f"<dir> --k <N/1000> --out <path>`, then prime the session via "
            f"operators.similarity.use_quantizer_artifact(spark, <dir>, "
            f"<path>, allow_nonstandard_k=True) — the k ≠ IVF_K artifact "
            f"needs the explicit escape hatch because it leaves the "
            f"oracle-replayable path — instead of running this fixed-k "
            f"catalog query."
        )
    cents = _fit_ivf_centroids(e, cache_key=corpus_cache_key(sf_dir))
    assigned = _assign_cells(e, cents)
    a = assigned.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("a_id"),
        "cell",
        F.col("embedding").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    )
    b = assigned.filter(F.col("vec_id") % 4 == 1).select(
        F.col("vec_id").alias("b_id"),
        "cell",
        F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    # localCheckpoint for the same reason as the dense variant: both
    # argmax branches consume the scored stream and Catalyst shares no
    # common subplan across them — without it every 64-dim cosine is
    # computed twice. The materialized rows are slim (a_id, b_id, cos).
    pairs = (
        a.join(b, "cell")
        .select(
            "a_id",
            "b_id",
            (
                dot_expr("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm"))
            ).alias("cos_sim"),
        )
        .transform(eager_checkpoint)
    )
    return mutual_best(pairs)
