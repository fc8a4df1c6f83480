"""Spectral analysis: PCA by power iteration over an exact
fixed-point covariance.

Principal components at corpus scale without MLlib's RowMatrix SVD
(whose Breeze/LAPACK path is platform-nondeterministic and
unreplayable in SQL): quantize embeddings to a fixed-point grid so
every covariance moment is an EXACT integer sum (one distributed
pass), then run a fixed number of power-iteration steps on the tiny
64×64 matrix — identical IEEE arithmetic on the driver and in the
DuckDB oracle's recursive CTE, so even the UNCONVERGED state is
bit-identical and hash-checkable. A third pass projects every vector
onto PC1 with the eigenvector broadcast back (the IVF-centroid
bounded-collect precedent: 64 + 64×64 integers to the driver, never
row data).

Fixture honesty: the synthetic embeddings are near-isotropic (uniform
random), so PC1 explains only ~2–3% of variance — the operator is
correctly measuring a flat spectrum; on real embedding corpora (which
are strongly anisotropic) the same plan reports the dominant
direction and its share.

The decimal-literal trap (third sighting, see SPRT): the iteration
init MUST be ``CAST(0.125 AS DOUBLE)`` in the oracle — a bare
``0.125`` makes v₀ a DECIMAL list and the first matvec diverges from
the double path.

Two embedding audits sit beside PCA: the Johnson-Lindenstrauss
distortion of the deterministic ±1 projection
(`q_jl_projection_distortion`) and per-label norm outliers
(`q_embedding_norm_outliers`), the cheap check before any ANN stage.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

PCA_SCALE = 10_000  # fixed-point grid: q = round(x * SCALE), exact BIGINT
PCA_DIMS = 64
PCA_ITERS = 40

_PCA_ORACLE = f"""
WITH RECURSIVE q AS (
    SELECT vec_id, CAST(label AS INT) AS label,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * {PCA_SCALE}) AS BIGINT)) AS qv
    FROM embeddings
),
flat AS (
    SELECT vec_id, i.i AS i, qv[CAST(i.i AS INT) + 1] AS qi, qv
    FROM q, (SELECT unnest(range({PCA_DIMS})) AS i) i
),
cells AS (
    SELECT f.i AS i, j.j AS j, sum(f.qi * f.qv[CAST(j.j AS INT) + 1]) AS sxx
    FROM flat f, (SELECT unnest(range({PCA_DIMS})) AS j) j GROUP BY 1, 2
),
sx AS (SELECT i, sum(qi) AS sxi FROM flat GROUP BY i),
nn AS (SELECT count(*) AS n FROM q),
cmat AS (
    SELECT list(crow ORDER BY i) AS cm FROM (
        SELECT c.i AS i,
               list(CAST(nn.n * c.sxx - a.sxi * b.sxi AS DOUBLE)
                    / (CAST(nn.n AS DOUBLE) * nn.n) ORDER BY c.j) AS crow
        FROM cells c JOIN sx a ON a.i = c.i JOIN sx b ON b.i = c.j
        CROSS JOIN nn GROUP BY c.i)
),
it AS (
    SELECT 0 AS it,
           list_transform(range({PCA_DIMS}), k -> CAST(0.125 AS DOUBLE)) AS v
    FROM cmat
    UNION ALL
    SELECT it + 1, list_transform(w, x -> x / sqrt(list_inner_product(w, w)))
    FROM (
        SELECT p.it AS it,
               list_transform(range({PCA_DIMS}),
                   k -> list_inner_product(cm[CAST(k AS INT) + 1], p.v)) AS w
        FROM it p, cmat WHERE p.it < {PCA_ITERS}
    )
),
vfin AS (SELECT v FROM it WHERE it = {PCA_ITERS}),
lam AS (
    SELECT list_inner_product(v, list_transform(range({PCA_DIMS}),
               k -> list_inner_product(cm[CAST(k AS INT) + 1], v))) AS l,
           list_reduce(list_transform(range({PCA_DIMS}),
               k -> cm[CAST(k AS INT) + 1][CAST(k AS INT) + 1]),
               (a, b) -> a + b) AS tr,
           v
    FROM vfin, cmat
),
proj AS (
    SELECT q.label,
           CAST(round(list_inner_product(
               list_transform(q.qv, x -> CAST(x AS DOUBLE)), lam.v)
               / {PCA_SCALE} * 1000000) AS BIGINT) AS micro
    FROM q, lam
)
SELECT CAST(p.label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(p.micro) AS DOUBLE) / count(*) / 1000000 AS mean_pc1,
       min(lam.l / ({PCA_SCALE}.0 * {PCA_SCALE})) AS lambda1,
       min(lam.l / lam.tr) AS explained_share
FROM proj p, lam GROUP BY p.label ORDER BY label
"""


def _seqdot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


@register(
    "q_pca_power_iteration",
    oracle=_PCA_ORACLE,
    tags=("embedding", "spectral", "iterative"),
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration, with per-label PC1 projection means: the direction a
    curation team checks for batch effects (a label whose mean
    projection sits far from the others encodes its source, not its
    content) and the anisotropy read (`explained_share`) that says
    whether embeddings have collapsed toward one axis.

    Three-phase plan: (1) ONE distributed pass reduces the corpus to
    exact integer moments — Σq, Σqqᵀ over fixed-point quantized
    vectors (plain double sums would be partition-order-nondeterministic;
    integers commute) — 64 + 64² scalars collected (the IVF-centroid
    precedent); (2) {PCA_ITERS} power-iteration steps on the driver in
    plain Python floats, every dot a sequential left fold — the exact
    arithmetic the oracle's recursive CTE replays, so the state is
    bit-identical WHETHER OR NOT the iteration has converged;
    (3) the eigenvector broadcasts back as 64 double literals and the
    projection pass runs distributed, means accumulated as exact
    1e-6-snapped integers.

    100 TB: phase 1 shuffles (i, j, partial-sum) cells — 4096 ×
    partitions rows, corpus-size-independent; phase 3 is map-side +
    one |labels| rollup. The driver never holds row data.
    """
    # EAGER checkpoint: the quantized table feeds the moment job, the
    # marginal job, and the projection pass — without it each action
    # re-read and re-quantized the corpus (review finding; the CC /
    # minhash persist convention applies)
    q = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            f" * {PCA_SCALE}) AS BIGINT))"
        ).alias("qv"),
    ).transform(eager_checkpoint)
    flat = q.select(
        "label", F.posexplode("qv").alias("i", "qi"), "qv"
    )
    # The moment job and the marginal job are INDEPENDENT rollups of
    # the checkpointed quantized table; collecting them at once
    # replaces two sequential job barriers with one. Exact-integer
    # results, so the order the jobs finish in cannot change them.
    cells, marg = run_concurrently(
        flat.select("i", "qi", F.posexplode("qv").alias("j", "qj"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("qi") * F.col("qj")).alias("sxx"))
        .collect,
        # marginals and n in ONE job (count rides along per dimension)
        flat.groupBy("i")
        .agg(F.sum("qi").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .collect,
    )
    sxs = {r["i"]: r["s"] for r in marg}
    n = marg[0]["cnt"]
    d = PCA_DIMS
    sxx = {}
    for r in cells:
        sxx[(r["i"], r["j"])] = r["sxx"]
    cm = [
        [
            (n * sxx[(i, j)] - sxs[i] * sxs[j]) / (float(n) * n)
            for j in range(d)
        ]
        for i in range(d)
    ]
    v = [0.125] * d
    for _ in range(PCA_ITERS):
        w = [_seqdot(cm[i], v) for i in range(d)]
        nrm = math.sqrt(_seqdot(w, w))
        v = [x / nrm for x in w]
    w = [_seqdot(cm[i], v) for i in range(d)]
    lam = _seqdot(v, w)
    tr = 0.0
    for i in range(d):
        tr = tr + cm[i][i] if i else cm[0][0]
    lambda1 = lam / (float(PCA_SCALE) * PCA_SCALE)
    share = lam / tr

    # broadcast the eigenvector as 64 double literals (exact bits) and
    # project distributed — sequential zip_with fold == the oracle's
    # list_inner_product
    v_lit = F.array(*[F.lit(x) for x in v])
    proj = (
        q.withColumn("__v__", v_lit)
        .select(
            "label",
            F.round(
                F.expr(
                    "aggregate(zip_with(qv, __v__, (a, b) ->"
                    " CAST(a AS DOUBLE) * b), CAST(0.0 AS DOUBLE),"
                    " (x, y) -> x + y)"
                )
                / PCA_SCALE
                * 1_000_000
            )
            .cast("long")
            .alias("micro"),
        )
    )
    return (
        proj.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("micro").alias("sm"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            (
                F.col("sm").cast("double") / F.col("n_vecs") / 1_000_000
            ).alias("mean_pc1"),
            F.lit(lambda1).alias("lambda1"),
            F.lit(share).alias("explained_share"),
        )
        .orderBy("label")
    )


# --- per-dimension embedding drift (PSI) -------------------------------------

DRIFT_LABEL_A = 0
DRIFT_LABEL_B = 1
DRIFT_BUCKETS = 12
DRIFT_LO = "-0.6"  # SQL literals: bucket grid shared verbatim
DRIFT_W = "0.1"
DRIFT_TOPK = 5

# bucket index from a (dim, value) pair — one shared text
_DRIFT_BUCKET = (
    f"least({DRIFT_BUCKETS - 1}, greatest(0, CAST(floor((v - CAST({DRIFT_LO}"
    f" AS DOUBLE)) / CAST({DRIFT_W} AS DOUBLE)) AS INT)))"
)

_DRIFT_DSUM = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list({x}))),"
    " (a, b) -> a + b)"
)

_DRIFT_ORACLE = f"""
WITH vals AS (
    SELECT CAST(label AS INT) AS pop, i.i AS dim,
           embedding[CAST(i.i AS INT) + 1]::DOUBLE AS v
    FROM embeddings, (SELECT unnest(range(64)) AS i) i
    WHERE label IN ({DRIFT_LABEL_A}, {DRIFT_LABEL_B})
),
cnt AS (
    SELECT pop, dim, {_DRIFT_BUCKET} AS b, count(*) AS c
    FROM vals GROUP BY 1, 2, 3
),
tot AS (SELECT pop, count(*) AS n FROM vals WHERE dim = 0 GROUP BY pop),
grid AS (
    SELECT d.d AS dim, b.b AS b
    FROM (SELECT unnest(range(64)) AS d) d,
         (SELECT unnest(range({DRIFT_BUCKETS})) AS b) b
),
shares AS (
    -- totals enter as CROSS JOINed rows, not scalar subqueries: if a
    -- label is absent the join is empty and BOTH engines return 0 rows
    -- (a scalar subquery would yield NULL shares on DuckDB only)
    SELECT g.dim, g.b,
           (coalesce(ca.c, 0) + 1.0) / (ta.n + {DRIFT_BUCKETS}) AS pa,
           (coalesce(cb.c, 0) + 1.0) / (tb.n + {DRIFT_BUCKETS}) AS pb
    FROM grid g
    CROSS JOIN (SELECT n FROM tot WHERE pop = {DRIFT_LABEL_A}) ta
    CROSS JOIN (SELECT n FROM tot WHERE pop = {DRIFT_LABEL_B}) tb
    LEFT JOIN cnt ca ON ca.pop = {DRIFT_LABEL_A} AND ca.dim = g.dim
                    AND ca.b = g.b
    LEFT JOIN cnt cb ON cb.pop = {DRIFT_LABEL_B} AND cb.dim = g.dim
                    AND cb.b = g.b
),
psi AS (
    SELECT dim, {_DRIFT_DSUM.format(x="(pa - pb) * ln(pa / pb)")} AS psi
    FROM shares GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, psi
FROM psi ORDER BY psi DESC, dim LIMIT {DRIFT_TOPK}
"""


@register(
    "q_embedding_dim_drift",
    oracle=_DRIFT_ORACLE,
    tags=("embedding", "drift", "monitoring"),
)
def q_embedding_dim_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 embedding dimensions by PSI between two label populations
    — WHICH axes moved, not just whether the distribution did: the
    per-dimension drill-down behind `q_embed_class_separation`'s
    aggregate distance and the embedding-space analogue of
    `q_psi_price_drift_by_month` (same PSI estimator, same
    Laplace-smoothed shares, same fixed-width bucket grid).

    Exactness: bucket counts are exact BIGINTs over a shared literal
    grid (empty cells materialized by a 64×12 grid join, so smoothing
    covers them identically); each dimension's 12 PSI terms fold in
    sorted order (det_sum discipline — a plain sum over the grid join
    would add in partition order).

    100 TB: one pass to (pop, dim, bucket) cells — 64×12×2 partials
    regardless of corpus size; everything after is grid-sized.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isin(DRIFT_LABEL_A, DRIFT_LABEL_B)
    )
    vals = emb.select(
        F.col("label").cast("int").alias("pop"),
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "dim", "v"
        ),
    )
    cnt = (
        vals.select("pop", "dim", F.expr(_DRIFT_BUCKET).alias("b"))
        .groupBy("pop", "dim", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = (
        vals.filter(F.col("dim") == 0)
        .groupBy("pop")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    na = tot.filter(F.col("pop") == DRIFT_LABEL_A).select(
        F.col("n").alias("na")
    )
    nb = tot.filter(F.col("pop") == DRIFT_LABEL_B).select(
        F.col("n").alias("nb")
    )
    grid = (
        emb.sparkSession.range(64)
        .select(F.col("id").cast("int").alias("dim"))
        .crossJoin(
            emb.sparkSession.range(DRIFT_BUCKETS).select(
                F.col("id").cast("int").alias("b")
            )
        )
    )
    ca = cnt.filter(F.col("pop") == DRIFT_LABEL_A).select(
        "dim", "b", F.col("c").alias("ca")
    )
    cb = cnt.filter(F.col("pop") == DRIFT_LABEL_B).select(
        "dim", "b", F.col("c").alias("cb")
    )
    shares = (
        grid.join(ca, ["dim", "b"], "left")
        .join(cb, ["dim", "b"], "left")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "dim",
            (
                (F.coalesce(F.col("ca"), F.lit(0)) + 1.0)
                / (F.col("na") + DRIFT_BUCKETS)
            ).alias("pa"),
            (
                (F.coalesce(F.col("cb"), F.lit(0)) + 1.0)
                / (F.col("nb") + DRIFT_BUCKETS)
            ).alias("pb"),
        )
    )
    psi = shares.groupBy("dim").agg(
        F.expr(
            "aggregate(array_sort(collect_list((pa - pb) * ln(pa / pb))),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("psi")
    )
    return (
        psi.orderBy(F.col("psi").desc(), "dim")
        .limit(DRIFT_TOPK)
        .select(F.col("dim").cast("long").alias("dim"), "psi")
    )


# --------------------------------------------------------------------------
# embedding-norm outlier audit per label
# --------------------------------------------------------------------------

_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), embedding),"
    " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)

_NORM_ORACLE = f"""
WITH norms AS (
    SELECT label, vec_id, {_NORM_SQL} AS nrm FROM embeddings
),
r AS (
    SELECT label, nrm,
           row_number() OVER (PARTITION BY label ORDER BY nrm, vec_id) AS rn,
           count(*) OVER (PARTITION BY label) AS n
    FROM norms
),
q AS (
    SELECT label,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
               THEN nrm END) AS q1,
           max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
               THEN nrm END) AS q3
    FROM r GROUP BY label
)
SELECT r.label,
       CAST(max(r.n) AS BIGINT) AS n_vecs,
       max(q.q1) AS q1,
       max(q.q3) AS q3,
       CAST(sum(CASE WHEN r.nrm < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR r.nrm > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM r JOIN q USING (label)
GROUP BY r.label
"""


@register(
    "q_embedding_norm_outliers",
    oracle=_NORM_ORACLE,
    tags=("llm-pipeline", "embeddings", "hygiene"),
)
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm outlier audit per label: exact rank-based
    Q1/Q3 of the norms (ceil(q·n) order statistic, vec_id tiebreak —
    the q_iqr_outlier_fences recipe) and the count outside Tukey
    1.5·IQR fences. Norm pathologies (zero vectors, exploded scales)
    are the cheapest early signal of a broken encoder batch — this is
    the first-pass hygiene gate before any ANN / SemDeDup stage
    trusts the vectors.

    Float parity: the norm is a fold over the vector in INDEX order
    seeded with 0.0 on both engines (same float32→double widening,
    same add order → bit-identical), so the rank order and quartiles
    agree exactly.

    Scale: map-side norm + one per-label window sort of scalar norms
    (vectors never cross the Exchange) + one grouped pass.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "label",
        "vec_id",
        F.expr(
            "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        ).alias("nrm"),
    )
    r = norms.selectExpr(
        "label",
        "nrm",
        "row_number() OVER (PARTITION BY label ORDER BY nrm, vec_id) AS rn",
        "count(*) OVER (PARTITION BY label) AS n",
    )
    q = r.groupBy("label").agg(
        F.expr(
            "max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))"
            " THEN nrm END)"
        ).alias("q1"),
        F.expr(
            "max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))"
            " THEN nrm END)"
        ).alias("q3"),
    )
    return (
        r.join(q, "label")
        .groupBy("label")
        .agg(
            F.expr("CAST(max(n) AS BIGINT)").alias("n_vecs"),
            F.max("q1").alias("q1"),
            F.max("q3").alias("q3"),
            F.expr(
                "CAST(sum(CASE WHEN nrm < q1 - 1.5 * (q3 - q1)"
                " OR nrm > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# --------------------------------------------------------------------------

JL_K = 16          # projected dims = the sign-LSH plane count
JL_PANEL = 50      # audit panel: the 50 lowest vec_ids -> 1225 pairs
_JL_SCALE = 0.25   # 1/sqrt(JL_K), exact in binary


def _jl_proj_spark() -> str:
    from cost_of_living_data_etl_spark.operators.similarity import (
        _planes_literal,
    )

    return (
        f"transform(sequence(1, {JL_K}), j -> aggregate("
        f"zip_with(embedding, element_at({_planes_literal(64)}, j),"
        " (x, p) -> CAST(x AS DOUBLE) * p),"
        " CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        f" * {_JL_SCALE})"
    )


def _jl_proj_duckdb() -> str:
    from cost_of_living_data_etl_spark.operators.similarity import (
        _plane_sql_literal,
    )

    planes = "[" + ", ".join(_plane_sql_literal(j, 64) for j in range(JL_K)) + "]"
    return (
        f"list_transform(range(1, {JL_K} + 1), j -> list_reduce("
        f"list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65),"
        f" i -> CAST(embedding[i] AS DOUBLE) * (({planes})[j])[i])),"
        f" (a, v) -> a + v) * {_JL_SCALE})"
    )


def _sq_dist(a: str, b: str, n: int, engine: str) -> str:
    """Σ(a_i - b_i)² folded in INDEX order — the same IEEE op sequence
    on both engines (shared-literal house recipe)."""
    if engine == "spark":
        return (
            f"aggregate(transform(sequence(1, {n}), i ->"
            f" (CAST(element_at({a}, i) AS DOUBLE) - CAST(element_at({b}, i) AS DOUBLE))"
            f" * (CAST(element_at({a}, i) AS DOUBLE) - CAST(element_at({b}, i) AS DOUBLE))),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, {n} + 1), i ->"
        f" (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))),"
        " (acc, v) -> acc + v)"
    )


def _jl_oracle() -> str:
    from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL

    return f"""
WITH p AS (
    SELECT vec_id, embedding, {_jl_proj_duckdb()} AS proj
    FROM embeddings WHERE vec_id < {JL_PANEL}
),
pairs AS (
    SELECT sqrt({_sq_dist('b.proj', 'a.proj', JL_K, 'duckdb')}
                / {_sq_dist('b.embedding', 'a.embedding', 64, 'duckdb')}) AS ratio
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    WHERE {_sq_dist('b.embedding', 'a.embedding', 64, 'duckdb')} > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       {_DSUM_SQL.format(x='ratio')} / count(*) AS mean_ratio,
       min(ratio) AS min_ratio,
       max(ratio) AS max_ratio,
       CAST(sum(CASE WHEN ratio BETWEEN 0.7 AND 1.3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_within_30pct
FROM pairs
"""


@register(
    "q_jl_projection_distortion",
    oracle=_jl_oracle(),
    tags=("llm-pipeline", "dim-reduction", "johnson-lindenstrauss"),
)
def q_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss audit of the engine's deterministic ±1
    projection: project 64-d embeddings to JL_K=16 dims with the SAME
    md5-derived hyperplanes the sign-LSH index uses (scaled 1/√k), and
    measure pairwise-distance distortion ||y_a−y_b||/||x_a−x_b|| on a
    fixed {JL_PANEL}-vector panel. This certifies the dim-reduction
    half of the LSH design: if the ratio concentrates near 1, the
    16-plane projection preserves geometry and a 4× cheaper prefilter
    distance (16 mults vs 64) is available to every ANN consumer.

    Scale: the projection is a map-side expression over literal
    planes (zero shuffle — same shape as the LSH signature); the
    audit panel is fixed-size regardless of corpus (1,225 pairs), so
    the pair join is broadcast-trivial at any SF.

    Float parity: projection, squared distances, and the mean fold
    all run in INDEX order from shared literals on both engines.
    """
    from cost_of_living_data_etl_spark.functions.columns import det_sum

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < JL_PANEL)
        .select("vec_id", "embedding", F.expr(_jl_proj_spark()).alias("proj"))
    )
    a = e.select(
        F.col("vec_id").alias("vid_a"),
        F.col("embedding").alias("emb_a"),
        F.col("proj").alias("proj_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vid_b"),
        F.col("embedding").alias("emb_b"),
        F.col("proj").alias("proj_b"),
    )
    d2o = _sq_dist("emb_b", "emb_a", 64, "spark")
    d2p = _sq_dist("proj_b", "proj_a", JL_K, "spark")
    pairs = (
        a.join(F.broadcast(b), F.col("vid_a") < F.col("vid_b"))
        .filter(F.expr(d2o) > 0)
        .select(F.expr(f"sqrt(({d2p}) / ({d2o}))").alias("ratio"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (det_sum("ratio") / F.count(F.lit(1))).alias("mean_ratio"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
        F.sum(
            F.when(F.col("ratio").between(0.7, 1.3), 1).otherwise(0)
        ).cast("long").alias("n_within_30pct"),
    )
