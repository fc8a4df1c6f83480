"""Similarity search over the embeddings table (array<float> vectors).

- brute-force cosine top-k: the exactness baseline (oracle-matched)
- brute-force cosine near-dup pair join (oracle-matched)
- sign-LSH bucketed ANN: the 100 TB path — deterministic hyperplanes,
  banded buckets, cosine verification only on candidates
- IVF probe: deterministic Lloyd k-means coarse quantizer (fixed
  init + fixed rounds — DuckDB-replayable), search only the nprobe
  nearest Voronoi cells
- k-means cell profiling: per-cell size / cohesion / label purity
  over the same shared quantizer fit
- product quantization: Lloyd codebooks for the PQ_M subspaces from
  the same fit, vectors encoded to PQ_M codes (64x memory cut vs
  float32), ADC top-k ranking — the billion-vector-index memory path
- hard-negative mining: per-anchor most-similar different-label
  vector for contrastive training

All vector math is native array expressions (zip_with/aggregate fold
— JVM codegen, no Python). Doubles throughout so results align with
the DuckDB oracle at 1e-6.

Scale notes: brute-force one-vs-all is a map-only pass (broadcast the
query vector) — linear and fine at any scale for single queries.
Brute-force PAIRWISE is O(n²) and only for validation; the LSH/IVF
variants are the production designs: bucket on short signatures,
shuffle signatures not vectors, verify only candidates.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

NEARDUP_COS = 0.45
TOPK = 10


def corpus_cache_key(sf_dir: str, table: str = "embeddings") -> str:
    """Cache key for in-session quantizer artifacts (IVF centroids, PQ
    codebooks): path PLUS a content fingerprint (relpath, mtime_ns,
    size) of every data file under ``{sf_dir}/{table}.parquet``.

    Keying on the bare path alone silently reused stale
    centroids when a fixture dir was rewritten in-session while the
    DuckDB oracle re-derived them from the new bytes — a confusing
    hash mismatch. The fingerprint makes rewrite → automatic refit; it
    is the in-session analogue of versioning the offline centroid
    artifact by source-snapshot id."""
    import os

    root = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                parts.append(f"{rel}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(root):
        st = os.stat(root)
        parts.append(f".:{st.st_mtime_ns}:{st.st_size}")
    return f"{root}|{'|'.join(parts)}"


def clear_quantizer_caches() -> None:
    """Explicit invalidation hook for tests/benches that rewrite
    fixture dirs (mtime-granularity rewrites within the same ns are
    theoretical, but the hook makes intent explicit and free)."""
    _QUANTIZER_CACHE.clear()
    _ARTIFACT_PRIMED.clear()

# cosine(a, b) with double accumulation, written identically on both engines
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)), "
    "cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def dot_expr(a: str, b: str) -> Column:
    return F.expr(_DOT.format(a=a, b=b))


def cosine_expr(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    return dot_expr(a, b) / (F.col(norm_a) * F.col(norm_b))


def with_norm(df: DataFrame, vec: str = "embedding", out: str = "norm") -> DataFrame:
    return df.withColumn(out, F.sqrt(dot_expr(vec, vec)))


@register(
    "q_ann_bruteforce_topk",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    q AS (SELECT emb AS qemb, norm AS qnorm FROM e WHERE vec_id = 0)
    SELECT
        e.vec_id,
        list_inner_product(e.emb, q.qemb) / (e.norm * q.qnorm) AS cos_sim
    FROM e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT {TOPK}
    """,
    tags=("similarity", "ann", "topk"),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k vs the vec_id=0 query vector.

    Broadcast query vector → map-only cosine → TakeOrderedAndProject:
    each partition keeps its local top-k; no global sort, no shuffle
    of vectors. This IS the scalable shape for single-query exact ANN.
    """
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb"), F.col("norm").alias("qnorm")
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


# all-pairs refusal threshold (~5e9 candidate pairs at this size)
MAX_EXACT_PAIRS_ROWS = 100_000


@register(
    "q_embed_neardup_pairs",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    )
    SELECT
        a.vec_id AS vec_id_1,
        b.vec_id AS vec_id_2,
        list_inner_product(a.emb, b.emb) / (a.norm * b.norm) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.emb, b.emb) / (a.norm * b.norm) >= {NEARDUP_COS}
    """,
    tags=("similarity", "neardup"),
)
def q_embed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact O(n²) baseline.

    Validation-scale only (quadratic): the builder REFUSES to plan the
    all-pairs job above MAX_EXACT_PAIRS_ROWS input rows, so the
    catalog cannot silently launch a quadratic job on a production
    corpus — `q_embed_neardup_lsh` is the same predicate under
    sign-LSH blocking for that scale.

    Physical form (round 5): the same guard that bounds the pair count
    bounds the MATRIX — ≤100k × 64 float64 ≈ 51 MB — so the corpus is
    broadcast once and each task scores a contiguous row block against
    it with chunked BLAS matmuls (the SemDeDup per-cell discipline,
    applied corpus-wide under the guard). Zero Exchange, no per-pair
    codegen fold: 41 s → ~2 s at sf0.1. The earlier broadcast
    nested-loop join evaluated a 64-dim aggregate fold per candidate
    pair — 20× the arithmetic cost of one dgemm over the same pairs.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # bounded guard action: scans at most MAX+1 rows (a full count()
    # here would double-scan the table on every plan construction)
    n = e.limit(MAX_EXACT_PAIRS_ROWS + 1).count()
    if n > MAX_EXACT_PAIRS_ROWS:
        raise ValueError(
            f"q_embed_neardup_pairs is an O(n²) validation baseline and the "
            f"input has > {MAX_EXACT_PAIRS_ROWS} vectors — use "
            f"q_embed_neardup_lsh (sign-LSH blocked, same cosine predicate) "
            f"at this scale."
        )
    out_schema = "vec_id_1 long, vec_id_2 long, cos_sim double"
    if n == 0:
        return spark.createDataFrame([], out_schema)
    rows = e.collect()  # bounded ≤ MAX_EXACT_PAIRS_ROWS by the guard
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", X, X))
    bc = spark.sparkContext.broadcast((ids, X, norms))

    n_blocks = min(32, n)
    bounds = np.linspace(0, n, n_blocks + 1, dtype=np.int64)

    def score(batches):
        b_ids, b_x, b_norms = bc.value
        xt = b_x.T
        # sub-chunk rows so each similarity slab stays ≤ ~128 MB
        chunk = max(1, (1 << 24) // max(1, len(b_ids)))
        for pdf in batches:
            for blk in pdf["id"].astype(int):
                lo, hi = int(bounds[blk]), int(bounds[blk + 1])
                for c0 in range(lo, hi, chunk):
                    c1 = min(c0 + chunk, hi)
                    sims = (b_x[c0:c1] @ xt) / np.outer(
                        b_norms[c0:c1], b_norms
                    )
                    ii, jj = np.nonzero(sims >= NEARDUP_COS)
                    id1, id2 = b_ids[c0 + ii], b_ids[jj]
                    keep = id1 < id2
                    yield pd.DataFrame(
                        {
                            "vec_id_1": id1[keep],
                            "vec_id_2": id2[keep],
                            "cos_sim": sims[ii[keep], jj[keep]],
                        }
                    )

    return (
        spark.range(n_blocks)
        .repartition(n_blocks)
        .mapInPandas(score, out_schema)
    )


N_BATCH_QUERIES = 5
BATCH_TOPK = 3


@register(
    "q_ann_batch_topk",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    scored AS (
        SELECT
            q.vec_id AS query_id,
            e.vec_id AS vec_id,
            list_inner_product(e.emb, q.emb) / (e.norm * q.norm) AS cos_sim,
            row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_inner_product(e.emb, q.emb) / (e.norm * q.norm) DESC,
                         e.vec_id
            ) AS rk
        FROM e JOIN e q
          ON q.vec_id < {N_BATCH_QUERIES} AND e.vec_id >= {N_BATCH_QUERIES}
    )
    SELECT query_id, vec_id, cos_sim, CAST(rk AS INT) AS rk
    FROM scored WHERE rk <= {BATCH_TOPK}
    """,
    tags=("similarity", "ann", "topk", "window"),
)
def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: top-3 neighbors for EACH of 5 query vectors.

    The realistic retrieval shape (many queries at once): broadcast the
    query block, map-side cosine against every (query, vector) pair,
    then per-query top-k via row_number — Spark's WindowGroupLimit
    pushes the k-cutoff below the shuffle, so each partition emits at
    most k rows per query instead of |vectors|. At 100 TB the broadcast
    side is the query batch (small by construction) and the big side
    never shuffles full vectors, only (query_id, vec_id, score).
    """
    from pyspark.sql import Window

    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        e.filter(F.col("vec_id") >= N_BATCH_QUERIES)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= BATCH_TOPK)
    )


# --- sign-LSH: deterministic hyperplanes from md5(j:d) --------------------

LSH_BITS = 32
LSH_BANDS = 8
LSH_ROWS = 4


def _plane_sign(j: int, d: int) -> int:
    """Deterministic ±1 from a hash — same on any engine, no RNG state."""
    import hashlib

    h = hashlib.md5(f"{j}:{d}".encode()).digest()[0]
    return 1 if h % 2 else -1


def _planes_literal(dims: int = 64) -> str:
    """The 16×dims ±1 hyperplane matrix as a nested array literal.

    A literal matrix + runtime zip_with/aggregate fold keeps the
    expression tree small (codegen-friendly); unrolling the 1024 terms
    into one expression blows up codegen and runs ~100× slower.
    """
    rows = []
    for j in range(LSH_BITS):
        vals = ", ".join(
            f"{'1.0' if _plane_sign(j, d) > 0 else '-1.0'}D" for d in range(dims)
        )
        rows.append(f"array({vals})")
    return "array(" + ", ".join(rows) + ")"


def _signature_expr(vec: str, dims: int = 64) -> str:
    """Sign signature (LSH_BITS wide): bit j = [dot(vec, plane_j) > 0]."""
    dot = (
        f"aggregate(zip_with({vec}, element_at({_planes_literal(dims)}, j + 1), "
        "(x, p) -> cast(x AS DOUBLE) * p), cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        f"aggregate(sequence(0, {LSH_BITS - 1}), cast(0 AS BIGINT), "
        f"(acc, j) -> acc + IF(({dot}) > 0, shiftleft(cast(1 AS BIGINT), j), cast(0 AS BIGINT)))"
    )


def _plane_sql_literal(j: int, dims: int = 64) -> str:
    """Hyperplane j as a DuckDB DOUBLE[] literal — same md5-derived
    ±1 signs as the Spark side (_plane_sign), so both engines hash
    every vector into identical buckets."""
    return (
        "["
        + ", ".join(
            "1.0" if _plane_sign(j, d) > 0 else "-1.0" for d in range(dims)
        )
        + "]"
    )


def _lsh_oracle(dims: int = 64) -> str:
    """DuckDB replay of the ENTIRE sign-LSH pipeline: signature bits →
    band nibbles → bucket self-join → exact cosine verification. The
    planes are deterministic literals, so the candidate set (not just
    the final predicate) is oracle-checked."""
    bit_cols = ",\n           ".join(
        f"CASE WHEN list_inner_product(emb, {_plane_sql_literal(j, dims)}) > 0 "
        f"THEN 1 ELSE 0 END AS b{j}"
        for j in range(LSH_BITS)
    )
    nibbles = ", ".join(
        " + ".join(f"{1 << r} * b{4 * n + r}" for r in range(4))
        for n in range(LSH_BANDS)
    )
    band_idx = ", ".join(str(n) for n in range(LSH_BANDS))
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    sig AS (
        SELECT vec_id, emb, norm,
           {bit_cols}
        FROM e
    ),
    bands AS (
        SELECT vec_id,
               unnest([{band_idx}]) AS band_idx,
               unnest([{nibbles}]) AS nibble
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.nibble = b.nibble
                     AND a.vec_id < b.vec_id
    )
    SELECT c.vec_id_1, c.vec_id_2,
           list_inner_product(e1.emb, e2.emb) / (e1.norm * e2.norm) AS cos_sim
    FROM cand c
    JOIN e e1 ON c.vec_id_1 = e1.vec_id
    JOIN e e2 ON c.vec_id_2 = e2.vec_id
    WHERE list_inner_product(e1.emb, e2.emb) / (e1.norm * e2.norm) >= {NEARDUP_COS}
    """


@register(
    "q_embed_neardup_lsh", oracle=_lsh_oracle(), tags=("similarity", "neardup", "lsh")
)
def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH blocked near-dup pairs (the scale path).

    Map-only sign signature per vector → band-bucket self-join on
    (band, nibble) → exact cosine verification of candidates only.
    Shuffles fixed-width signatures instead of 256-byte vectors;
    recall is tunable via bands/rows (8 bands x 4 bits: ~0.99
    theoretical recall at the 0.9-cosine threshold, measured >=0.9 in
    tests/test_similarity_recall.py). The hyperplanes are md5-derived
    deterministic literals, so the FULL pipeline — bucketing included,
    not just the cosine predicate — replays in DuckDB (_lsh_oracle)
    and is hash-matched.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    sig = e.withColumn("sig", F.expr(_signature_expr("embedding")))

    # signature computed ONCE per vector, then fanned out to bands —
    # WITH the vector riding along. Shuffle cost: LSH_BANDS × ~260 B
    # per vector (linear in n). The previous form shuffled bare
    # id-pairs instead, which reads cheaper per row but is Θ(Σb²) ROWS
    # — with 4-bit nibbles every bucket holds ~n/16 of a near-uniform
    # corpus, so the candidate distinct() + two verification id-joins
    # moved ~200M rows at 20k vectors (measured: GC-thrashed the
    # sf0.1→sf1.0 decade run). Quadratic work is inherent to bucket
    # verification; quadratic SHUFFLE is not.
    bands = sig.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftright(sig, {4 * n}) % 16")
                    for n in range(LSH_BANDS)
                ]
            )
        ).alias("band_idx", "nibble"),
    )

    # one vectorized verification per (band, nibble) bucket: in-bucket
    # cosine via one dgemm, emit only SURVIVING pairs — the downstream
    # dedupe then shuffles |true near-dups| rows, not |candidates|.
    # Bucket slab memory is (n_bucket × dims) doubles; at the 100 TB
    # design point bits-per-band must grow with log₂(n) (wider codes →
    # smaller buckets) — the nibble width here matches the fixture's
    # low 0.45-cos recall regime, and the bucket matmul form is
    # exactly what SemDeDup's per-cell verification already uses.
    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", X, X))
        sims = (X @ X.T) / np.outer(norms, norms)
        ii, jj = np.nonzero(sims >= NEARDUP_COS)
        keep = ids[ii] < ids[jj]
        return pd.DataFrame(
            {
                "vec_id_1": ids[ii[keep]],
                "vec_id_2": ids[jj[keep]],
                "cos_sim": sims[ii[keep], jj[keep]],
            }
        )

    pairs = bands.groupBy("band_idx", "nibble").applyInPandas(
        lambda _key, pdf: verify(pdf),
        "vec_id_1 long, vec_id_2 long, cos_sim double",
    )
    # a pair colliding in several bands yields bit-identical cos_sim
    # (same two vectors, same dot) — max() is a pure dedupe
    return pairs.groupBy("vec_id_1", "vec_id_2").agg(
        F.max("cos_sim").alias("cos_sim")
    )


IVF_K = 8  # coarse-quantizer cells
IVF_NPROBE = 3  # cells scanned per query
IVF_ITERS = 4  # Lloyd refinement rounds (fixed — part of the contract)


#: a centroid score as SQL: (vector expression, centroid) -> expression
Score = Callable[[str, list[float]], str]


def _nearest_cell_sql(
    vec: str, cents: list[tuple[int, list[float]]], dist: Score
) -> str:
    """SQL for the id of the centroid nearest to the array ``vec``: an
    in-row argmin, ``array_min`` over one ``struct(score, cell)`` per
    centroid, with ``score = dist(vec, c)``. Ties go to the smaller
    cell id by struct ordering. The IVF assignment, every Lloyd round
    and the PQ encode all build their argmin here.

    The centroids are a driver-side constant (the offline quantizer
    artifact), so the argmin is a pure projection: no crossJoin, no
    groupBy(vec_id), no vector leaves its partition. It is ONE SQL
    string because built-up Column trees cost a py4j round trip per
    literal (8×64 of them measured ~0.6 s of driver latency per query
    build; one expr() call is free)."""
    structs = ",".join(
        f"struct({dist(vec, c)} AS score, {int(cell)} AS cell)" for cell, c in cents
    )
    return f"array_min(array({structs})).cell"


def _ivf_score(vec: str, c: list[float]) -> str:
    """|c|² − 2·⟨x, c⟩: argmin-equivalent to Euclidean distance (|x|²
    is constant per vector). |c|² is a left-to-right Python float64
    fold, matching the engine's aggregate fold, and the dot is the
    shared zip_with/aggregate tree, so the DuckDB oracle replays it
    bit for bit. repr() doubles round-trip exactly; the D suffix keeps
    the parser in DoubleType (bare decimal literals parse as decimal)."""
    cc = 0.0
    for v in c:
        cc += float(v) * float(v)
    arr = "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"
    dot = _DOT.format(a=vec, b=arr)
    return f"CAST({cc!r} AS DOUBLE) - CAST(2.0 AS DOUBLE) * {dot}"


def _assign_cells(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Nearest-centroid assignment under the IVF score, as a pure
    projection (zero shuffle; see ``_nearest_cell_sql``)."""
    cell = _nearest_cell_sql("embedding", cents, _ivf_score)
    return e.select("vec_id", F.expr(cell).alias("cell"), "embedding", "norm")


#: memoized deterministic Lloyd fits, keyed by (corpus_cache_key,
#: spaces): spaces=1 holds the IVF coarse quantizer, spaces=PQ_M the PQ
#: codebooks. The fit is pure in the corpus (fixed init, fixed rounds,
#: no RNG), so caching is semantics-free — it is the in-session stand-in
#: for the parquet artifact an offline quantizer job would publish, and
#: without it every consumer of the shared quantizer refits. k and
#: iters are not in the key: use_quantizer_artifact primes a k != IVF_K
#: artifact that consumers calling with the default k must find.
_QUANTIZER_CACHE: dict[tuple[str, int], list[list[tuple[int, list[float]]]]] = {}
#: corpus keys primed from an OFFLINE artifact (use_quantizer_artifact)
#: → whether that artifact's k SCALES WITH THE CORPUS (k != IVF_K,
#: which requires the allow_nonstandard_k escape hatch). The
#: oversized-corpus guards stand down ONLY for scale-path primes: a
#: standard fixed-k artifact reproduces exactly the within-cell
#: quadratic geometry the guards exist to refuse (a k=IVF_K prime
#: would otherwise silently re-enable the quadratic job on an
#: oversized corpus).
_ARTIFACT_PRIMED: dict[str, bool] = {}


def is_artifact_primed(
    sf_dir: str, table: str = "embeddings", *, scale_path_only: bool = False
) -> bool:
    """Whether this corpus key was primed via ``use_quantizer_artifact``.
    With ``scale_path_only=True``, additionally require the primed
    artifact's k to scale with the corpus (k != IVF_K) — the predicate
    the SemDeDup / mutual-NN oversized-corpus guards consult (shared
    here so the two guard sites cannot drift)."""
    key = corpus_cache_key(sf_dir, table)
    if key not in _ARTIFACT_PRIMED:
        return False
    return _ARTIFACT_PRIMED[key] if scale_path_only else True


def _lloyd_fit(
    e: DataFrame,
    spaces: int,
    k: int,
    iters: int,
    dist: Score,
    cache_key: str | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic Lloyd's k-means of ``k`` centroids in each of
    ``spaces`` equal slices of ``embedding``; returns, per space, the
    ``(cell, centroid)`` pairs sorted by cell. ``dist(vec_sql, c)`` is
    the caller's score expression, which its DuckDB oracle replays.

    Init is the k lowest vec_ids' vectors (one collect, sliced in
    Python); then each of ``iters`` rounds is one projection computing
    every space's cell, ``posexplode`` → one ``groupBy(space, cell,
    dim)`` mean → one collect of k·dims means. No RNG, so the oracles
    replay the fit with unrolled CTEs. Cells keep their init ids: a
    cell that empties leaves a hole, as the oracles' CTE chains do, and
    is never renumbered.

    Only the centroid matrix reaches the driver; the assignment scan
    and the per-dimension means stay distributed, over a fixed number
    of groups regardless of corpus size."""
    if cache_key is not None and (cache_key, spaces) in _QUANTIZER_CACHE:
        return _QUANTIZER_CACHE[(cache_key, spaces)]
    from pyspark import StorageLevel

    # every round re-reads the vectors: persist the projection so the
    # source is scanned once (at 100 TB, the offline job's checkpoint)
    base = e.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        init = sorted(
            (int(r["vec_id"]), [float(v) for v in r["embedding"]])
            for r in base.filter(F.col("vec_id") < k).collect()
        )
        if not init:
            raise ValueError(f"no vectors with vec_id < {k} to initialise from")
        sub = len(init[0][1]) // spaces
        fits = [
            [(c, v[s * sub : (s + 1) * sub]) for c, v in init] for s in range(spaces)
        ]
        # one space scores the whole vector as it is: a slice would be
        # copied once per centroid per row per round
        vecs = (
            ["embedding"]
            if spaces == 1
            else [_sub_spark("embedding", s, sub) for s in range(spaces)]
        )
        for _ in range(iters):
            codes = ",".join(
                _nearest_cell_sql(vecs[s], fits[s], dist) for s in range(spaces)
            )
            # the codes are computed in their own select, BEFORE the
            # posexplode: in the same select Spark evaluates the argmin
            # once per exploded element (an sf0.1 fit then measured
            # ~30 s instead of ~2 s on 4 cores)
            rows = (
                base.select(F.expr(f"array({codes})").alias("codes"), "embedding")
                .select("codes", F.posexplode("embedding").alias("d", "x"))
                .selectExpr(
                    f"d div {sub} AS space",
                    f"codes[d div {sub}] AS cell",
                    f"d % {sub} AS dim",
                    "x",
                )
                .groupBy("space", "cell", "dim")
                .agg(F.avg("x").alias("av"))
                .collect()
            )
            means: list[dict[int, dict[int, float]]] = [{} for _ in range(spaces)]
            for r in rows:
                means[r["space"]].setdefault(r["cell"], {})[r["dim"]] = float(r["av"])
            fits = [
                [(c, [by_dim[d] for d in range(sub)]) for c, by_dim in sorted(m.items())]
                for m in means
            ]
    finally:
        base.unpersist()
    if cache_key is not None:
        _QUANTIZER_CACHE[(cache_key, spaces)] = fits
    return fits


def _fit_ivf_centroids(
    e: DataFrame,
    cache_key: str | None = None,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
) -> list[tuple[int, list[float]]]:
    """The IVF coarse quantizer: the one-space ``_lloyd_fit`` under the
    IVF score. The offline k ∝ N path (``fit_quantizer``) calls this
    with a large k; the catalog queries keep the pinned defaults for
    oracle replay."""
    return _lloyd_fit(e, 1, k, iters, _ivf_score, cache_key)[0]


def fit_quantizer(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    table: str = "embeddings",
) -> str:
    """Offline quantizer job: fit the deterministic Lloyd coarse
    quantizer over ``{sf_dir}/{table}.parquet`` and publish the
    centroids as a parquet artifact (``cell INT, c ARRAY<DOUBLE>``).

    This is the k ∝ N scale path the ANN guards name: at corpus sizes
    where the fixed-k catalog queries refuse (SemDeDup, mutual-NN),
    run this once with k sized to the corpus (SemDeDup used k = 50k
    for LAION), then prime consumers from the artifact with
    ``use_quantizer_artifact`` — IVF probe, k-means cell profile,
    SemDeDup, and ANN mutual-NN all read the quantizer through the
    same cache, so none of them refit.

    Runnable form (the guards print it):

        python -m cost_of_living_data_etl_spark.jobs.fit_quantizer \\
            --sf-dir /root/testdata/sf0.1 --k 8 --out /tmp/quantizer

    The fit itself is the distributed `_fit_ivf_centroids` job — only
    the k×dims centroid matrix ever reaches the driver.
    """
    from cost_of_living_data_etl_spark.sources.tables import load_table

    e = with_norm(load_table(spark, sf_dir, table))
    cents = _fit_ivf_centroids(e, k=k, iters=iters)
    (
        spark.createDataFrame(cents, "cell int, c array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out_path)
    )
    return out_path


def load_quantizer(
    spark: SparkSession, path: str
) -> list[tuple[int, list[float]]]:
    """Read a ``fit_quantizer`` parquet artifact back into the centroid
    list shape every quantizer consumer takes, sorted by cell id (the
    artifact's row order is not part of its contract)."""
    return sorted(
        (int(r["cell"]), [float(v) for v in r["c"]])
        for r in spark.read.parquet(path).collect()
    )


def use_quantizer_artifact(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    table: str = "embeddings",
    allow_nonstandard_k: bool = False,
) -> None:
    """Prime the in-session quantizer cache for ``sf_dir`` from an
    offline artifact: after this, every consumer keyed on
    ``corpus_cache_key(sf_dir, table)`` (IVF probe, k-means cells,
    SemDeDup, ANN mutual-NN) uses the artifact's centroids instead of
    refitting. The oversized-corpus guards in SemDeDup / mutual-NN
    stand down ONLY when the primed artifact's k differs from the
    pinned IVF_K (i.e. it actually scales with the corpus): a primed
    k ∝ N quantizer is exactly their named scale path, while a primed
    STANDARD-k artifact reproduces the quadratic within-cell geometry
    the guards exist to refuse, so the refusal stays.

    The swap is semantics-free ONLY for a same-(k, iters) artifact
    (in-session fit and artifact are bit-identical then — pinned by
    tests/test_quantizer_artifact.py). An artifact with k ≠ IVF_K
    changes cell geometry, and every catalog query whose DuckDB oracle
    replays the pinned IVF_K={IVF_K} Lloyd chain would hash-MISMATCH —
    so that requires ``allow_nonstandard_k=True``, the production
    escape hatch that takes the session off the oracle-replayable
    path (silently accepting any k would break the under-cap
    consumers' parity).
    """
    cents = load_quantizer(spark, path)
    if len(cents) != IVF_K and not allow_nonstandard_k:
        raise ValueError(
            f"quantizer artifact at {path} has k={len(cents)}, but the "
            f"catalog queries' oracles replay the pinned IVF_K={IVF_K} "
            f"fit — priming it would hash-mismatch every under-cap IVF "
            f"consumer. Pass allow_nonstandard_k=True for the k ∝ N "
            f"production path (no oracle replay)."
        )
    key = corpus_cache_key(sf_dir, table)
    _QUANTIZER_CACHE[(key, 1)] = [cents]
    # guards consult THIS map, not the fit cache: ordinary in-session
    # fits memoize into _QUANTIZER_CACHE under the same keys, and an
    # incidental fit must not stand a size guard down. The recorded
    # bool is whether k scales with the corpus — only such primes are
    # the guards' named scale path; a standard-k artifact keeps the
    # quadratic geometry and keeps the refusal.
    _ARTIFACT_PRIMED[key] = len(cents) != IVF_K


def _lloyd_cte_chain() -> tuple[str, str, str]:
    """Shared DuckDB unrolling of the deterministic Lloyd fit: returns
    (WITH-chain SQL, final-assignment CTE name, final-centroid CTE
    name). Used by the IVF probe oracle and the k-means cell-profile
    oracle so both replay the identical quantizer."""
    ip = "list_inner_product"
    sql = [
        f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb,
               sqrt({ip}(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS c FROM e WHERE vec_id < {IVF_K})"""
    ]
    for t in range(1, IVF_ITERS + 2):
        prev = f"c{min(t - 1, IVF_ITERS)}"
        sql.append(
            f""",
    a{t} AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, {prev}.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {ip}({prev}.c, {prev}.c) - 2 * {ip}(e.emb, {prev}.c),
                                {prev}.cell
                   ) AS rn
            FROM e, {prev}
        ) WHERE rn = 1
    )"""
        )
        if t <= IVF_ITERS:
            sql.append(
                f""",
    c{t} AS (
        SELECT cell, list(av ORDER BY dim) AS c
        FROM (
            SELECT cell, dim, avg(v) AS av
            FROM (
                SELECT a{t}.cell, generate_subscripts(e.emb, 1) AS dim,
                       unnest(e.emb) AS v
                FROM a{t} JOIN e USING (vec_id)
            )
            GROUP BY cell, dim
        )
        GROUP BY cell
    )"""
            )
    return "".join(sql), f"a{IVF_ITERS + 1}", f"c{IVF_ITERS}"


def _ivf_oracle() -> str:
    """DuckDB replay of the whole IVF path: the SAME deterministic
    Lloyd fit (unrolled — one assign CTE + one centroid CTE per
    round), probe-cell selection, and in-cell exact search."""
    ip = "list_inner_product"
    chain, final_a, final_c = _lloyd_cte_chain()
    sql = [chain]
    sql.append(
        f""",
    q AS (SELECT emb AS qemb, norm AS qnorm FROM e WHERE vec_id = 0),
    probe AS (
        SELECT cell FROM (
            SELECT {final_c}.cell,
                   {ip}({final_c}.c, q.qemb)
                     / (sqrt({ip}({final_c}.c, {final_c}.c)) * q.qnorm) AS cdist
            FROM {final_c}, q
        ) ORDER BY cdist DESC, cell LIMIT {IVF_NPROBE}
    )
    SELECT e.vec_id, CAST(a.cell AS BIGINT) AS cell,
           {ip}(e.emb, q.qemb) / (e.norm * q.qnorm) AS cos_sim
    FROM {final_a} a
    JOIN probe USING (cell)
    JOIN e ON e.vec_id = a.vec_id
    CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT {TOPK}"""
    )
    return "".join(sql)


@register("q_ann_ivf_probe", oracle=_ivf_oracle(), tags=("similarity", "ann", "ivf"))
def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic Lloyd k-means coarse quantizer → probe
    the IVF_NPROBE nearest cells → exact cosine inside them.

    This is the production IVF topology: the quantizer is FIT once
    (an offline, cached artifact at scale — the fit itself stays a
    distributed Spark job, see _fit_ivf_centroids), assignment is one
    broadcast map pass, and each query scans only nprobe/k of the
    corpus. Geometric cells matter: partitioning by an unrelated
    attribute (e.g. the label column) gives ~chance recall; Voronoi
    cells concentrate a query's true neighbors in its nearest cells —
    recall@10 is measured against the brute-force baseline in
    tests/test_similarity_recall.py. The fit is deterministic (fixed
    init + fixed rounds, no RNG), so the full path — fit, probe,
    search — replays in DuckDB and is hash-matched, not rows-only.
    """
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _fit_ivf_centroids(e, cache_key=corpus_cache_key(sf_dir))
    assigned = _assign_cells(e, cents)
    cdf = spark.createDataFrame(cents, "cell int, c array<double>")
    centroids = cdf.withColumn("cnorm", F.sqrt(dot_expr("c", "c")))

    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb"), F.col("norm").alias("qnorm")
    )
    probe_cells = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "cell",
            cosine_expr("c", "qemb", "cnorm", "qnorm").alias("cdist"),
        )
        .orderBy(F.col("cdist").desc(), F.col("cell"))
        .limit(IVF_NPROBE)
        .select("cell")
    )
    return (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


def _kmeans_cells_oracle() -> str:
    """DuckDB replay of the cell-profile query over the shared
    deterministic Lloyd fit (_lloyd_cte_chain)."""
    ip = "list_inner_product"
    chain, final_a, final_c = _lloyd_cte_chain()
    return (
        chain
        + f""",
    mem AS (
        SELECT a.cell, e.vec_id, e.label,
               {ip}(e.emb, c.c) / (e.norm * sqrt({ip}(c.c, c.c))) AS cosc
        FROM {final_a} a
        JOIN e ON e.vec_id = a.vec_id
        JOIN {final_c} c ON c.cell = a.cell
    ),
    lab AS (
        SELECT cell, label, count(*) AS n,
               row_number() OVER (
                   PARTITION BY cell ORDER BY count(*) DESC, label
               ) AS rk
        FROM mem GROUP BY cell, label
    ),
    cellstats AS (
        SELECT cell, count(*) AS n_vectors, avg(cosc) AS mean_cos
        FROM mem GROUP BY cell
    )
    SELECT CAST(s.cell AS BIGINT)      AS cell,
           CAST(s.n_vectors AS BIGINT) AS n_vectors,
           s.mean_cos                  AS mean_cos,
           CAST(l.label AS BIGINT)     AS top_label,
           l.n * 1.0 / s.n_vectors    AS top_label_share
    FROM cellstats s JOIN lab l ON l.cell = s.cell AND l.rk = 1
    """
    )


@register(
    "q_embed_kmeans_cells",
    oracle=_kmeans_cells_oracle(),
    tags=("clustering", "embeddings", "kmeans", "training-data"),
)
def q_embed_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space corpus clustering profile: per k-means cell,
    its size, cohesion (mean cosine of members to their centroid) and
    label purity (majority label + share).

    The corpus-bucketing pass of a curation pipeline — semantic dedup
    regions, mixture-weight design, topic skew audits all start from
    exactly this table. Reuses the deterministic Lloyd quantizer
    (_fit_ivf_centroids), so the fit is an offline shared artifact
    between clustering and ANN, and the whole query — fit included —
    replays in DuckDB and is hash-matched.

    Scale shape: assignment is a broadcast map pass; every aggregate
    groups on (cell) or (cell, label) — k·|labels| cells regardless of
    corpus size; no vector ever shuffles (the centroid join is
    broadcast, cosines are computed map-side).
    """
    from pyspark.sql import Window

    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _fit_ivf_centroids(e, cache_key=corpus_cache_key(sf_dir))
    cdf = spark.createDataFrame(cents, "cell int, c array<double>")
    assigned = _assign_cells(e, cents)
    mem = (
        assigned.join(e.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(cdf.withColumn("cnorm", F.sqrt(dot_expr("c", "c")))), "cell")
        .select(
            "cell",
            "vec_id",
            "label",
            cosine_expr("embedding", "c", "norm", "cnorm").alias("cosc"),
        )
    )
    lab_w = Window.partitionBy("cell").orderBy(F.desc("n"), F.asc("label"))
    lab = (
        mem.groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(lab_w))
        .filter(F.col("rk") == 1)
    )
    stats = mem.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.avg("cosc").alias("mean_cos")
    )
    return stats.join(lab, "cell").select(
        F.col("cell").cast("long").alias("cell"),
        "n_vectors",
        "mean_cos",
        F.col("label").cast("long").alias("top_label"),
        (F.col("n") / F.col("n_vectors")).alias("top_label_share"),
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization: the 4×-compression step in front of every
# billion-vector ANN index
# ---------------------------------------------------------------------------

QUANT_LEVELS = 255  # int8 range [-128, 127] after the -128 shift


@register(
    "q_embed_quantize_int8",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(label AS INT) AS label,
               embedding::DOUBLE[] AS e,
               CAST(list_min(embedding) AS DOUBLE) AS mn,
               CAST(list_max(embedding) AS DOUBLE) AS mx
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, label, e, mn,
               greatest(mx - mn, 1e-12) / {QUANT_LEVELS} AS scale
        FROM v
    ),
    r AS (
        SELECT vec_id, label, scale,
               list_transform(
                   e, x -> pow(x - (mn + floor((x - mn) / scale + 0.5) * scale), 2)
               ) AS sqerr
        FROM s
    ),
    per_vec AS (
        SELECT vec_id, label, scale,
               list_sum(sqerr) / len(sqerr) AS mse
        FROM r
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           avg(mse) AS avg_mse,
           max(mse) AS max_mse,
           avg(scale * {QUANT_LEVELS}) AS avg_range
    FROM per_vec GROUP BY label
    """,
    tags=("embedding", "quantization"),
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization of the embedding corpus and
    its reconstruction error, profiled per label.

    The memory lever for ANN at scale: float32×64-dim vectors shrink
    4× (256 B → 64 B + 8 B of (min, scale) codebook), which is the
    difference between an index that fits executor memory and one
    that spills. Codes are per-vector min/max affine:
    ``q = floor((x - mn)/scale + 0.5)``, reconstruction
    ``x̂ = mn + q·scale``; everything is native array higher-order
    functions (transform/aggregate) — codegen'd, no UDF, no shuffle
    except the final tiny per-label rollup. ``floor(v + 0.5)`` is
    used instead of round() so Spark and DuckDB share one rounding
    rule by construction; the oracle replays the identical math via
    list_transform/list_sum.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.expr("transform(embedding, x -> cast(x AS DOUBLE))")
    v = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        e.alias("e"),
        F.expr("cast(array_min(embedding) AS DOUBLE)").alias("mn"),
        F.expr("cast(array_max(embedding) AS DOUBLE)").alias("mx"),
    ).withColumn(
        "scale", F.greatest(F.col("mx") - F.col("mn"), F.lit(1e-12)) / QUANT_LEVELS
    )
    per_vec = v.select(
        "label",
        "scale",
        (
            F.expr(
                "aggregate(transform(e, x -> pow(x - (mn + floor((x - mn) / scale + 0.5) * scale), 2)),"
                " cast(0.0 AS DOUBLE), (a, x) -> a + x)"
            )
            / F.size("e")
        ).alias("mse"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("mse").alias("avg_mse"),
        F.max("mse").alias("max_mse"),
        F.avg(F.col("scale") * QUANT_LEVELS).alias("avg_range"),
    )


HARDNEG_NQ = 5  # anchor vectors mined per run (vec_id < NQ)


@register(
    "q_hard_negative_mining",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb,
               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, label AS qlabel, emb AS qemb, norm AS qnorm
        FROM e WHERE vec_id < {HARDNEG_NQ}
    ),
    cand AS (
        SELECT q.qid, q.qlabel, e.vec_id AS neg_id, e.label AS neg_label,
               list_inner_product(e.emb, q.qemb) / (e.norm * q.qnorm) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY list_inner_product(e.emb, q.qemb) / (e.norm * q.qnorm) DESC,
                            e.vec_id
               ) AS rn
        FROM e JOIN q ON e.label <> q.qlabel
    )
    SELECT CAST(qid AS BIGINT)      AS query_id,
           CAST(qlabel AS INT)      AS query_label,
           CAST(neg_id AS BIGINT)   AS neg_id,
           CAST(neg_label AS INT)   AS neg_label,
           cos_sim
    FROM cand WHERE rn = 1
    """,
    tags=("similarity", "training-data", "hard-negatives"),
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor vector, the most cosine-similar vector with a
    DIFFERENT label — the close-but-wrong examples that sharpen a
    retrieval model's decision boundary.

    Shape: anchors broadcast (NQ×dims floats), corpus side is a
    map-only cosine pass, and the per-anchor argmax is a partial
    aggregate — each partition keeps one best-candidate struct per
    anchor, so the shuffle is |anchors|×|partitions| structs, never
    the corpus. max(struct(cos, -neg_id)) makes the tie-break (highest
    cosine, then lowest id) deterministic inside the aggregate itself;
    the oracle's row_number window states the same choice relationally.
    Cosines use the shared fold expression, so both engines produce
    bit-identical doubles and the argmax can never disagree.

    At 100 TB with millions of anchors, the same plan holds with the
    anchor side bucketed instead of broadcast (or via q_ann_ivf_probe
    cells); the label-constraint filter stays in the scan stage.
    """
    # scan-parallelization A/B-tested and REJECTED here (round 9):
    # only |anchors|x|corpus| = ~10k cosines — the re-key exchange
    # costs more than the small kernel it parallelizes (0.51 vs 0.61 s)
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < HARDNEG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    cand = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "qlabel",
            F.struct(
                cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos"),
                (-F.col("vec_id")).alias("neg_id_neg"),
                F.col("label").alias("nlabel"),
            ).alias("c"),
        )
    )
    best = cand.groupBy("qid", "qlabel").agg(F.max("c").alias("b"))
    return best.select(
        F.col("qid").alias("query_id"),
        F.col("qlabel").cast("int").alias("query_label"),
        (-F.col("b.neg_id_neg")).alias("neg_id"),
        F.col("b.nlabel").cast("int").alias("neg_label"),
        F.col("b.cos").alias("cos_sim"),
    )


# --- product quantization (PQ) ---------------------------------------------
# The ANN memory lever past int8: split each vector into PQ_M
# subspaces, k-means each subspace to a PQ_K-entry codebook, store only
# the code per subspace — 64-dim float32 (256 B) → PQ_M bytes + a
# shared PQ_M×PQ_K×(dims/PQ_M) codebook. Asymmetric distance
# computation (ADC) ranks vectors by summing per-subspace query→code
# distances from a lookup table, never touching raw vectors.

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (PQ_M * PQ_SUB = embedding dims)
PQ_K = 8  # codebook entries per subspace
PQ_ITERS = 2  # deterministic Lloyd rounds of the codebook fit

# identical left-fold squared-L2 on both engines (see _DOT rationale)
_SQDIST_SPARK = (
    "aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)), "
    "cast(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)
_SQDIST_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2]))), "
    "(a, b) -> a + b)"
)


def _sub_spark(col: str, s: int, sub: int = PQ_SUB) -> str:
    """Subspace s (``sub`` dims wide) of an array<float> column, as double."""
    return (
        f"transform(slice({col}, {s * sub + 1}, {sub}),"
        " x -> cast(x AS DOUBLE))"
    )


def _pq_score(vec: str, c: list[float]) -> str:
    """Σ(x − c)², the PQ score, as the left fold the oracle replays."""
    return _SQDIST_SPARK.format(a=vec, b=_pq_lit(c))


def _fit_pq_codebooks(
    e: DataFrame, cache_key: str | None = None
) -> list[list[tuple[int, list[float]]]]:
    """The PQ codebooks: the ``PQ_M``-space ``_lloyd_fit`` under the PQ
    score, ``PQ_K`` codes per subspace, fitted in one pass per round."""
    return _lloyd_fit(e, PQ_M, PQ_K, PQ_ITERS, _pq_score, cache_key)


def _pq_lit(vals: list[float]) -> str:
    """SQL array literal with round-trip-exact doubles."""
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


def _pq_oracle() -> str:
    """DuckDB replay of the WHOLE PQ path: PQ_M unrolled per-subspace
    Lloyd fits, vector encoding (argmin code per subspace), and the
    ADC top-k for the vec_id=0 query."""
    sql = ["WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)"]
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB + 1, (s + 1) * PQ_SUB
        sql.append(
            f""",
    s{s} AS (SELECT vec_id, list_slice(emb, {lo}, {hi}) AS v FROM e),
    s{s}c0 AS (
        SELECT CAST(vec_id AS INT) AS code, v AS c FROM s{s} WHERE vec_id < {PQ_K}
    )"""
        )
        for t in range(1, PQ_ITERS + 2):
            prev = f"s{s}c{min(t - 1, PQ_ITERS)}"
            dist = _SQDIST_SQL.format(a="x.v", b=f"{prev}.c")
            sql.append(
                f""",
    s{s}a{t} AS (
        SELECT vec_id, code FROM (
            SELECT x.vec_id, {prev}.code,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY {dist}, {prev}.code
                   ) AS rn
            FROM s{s} x, {prev}
        ) WHERE rn = 1
    )"""
            )
            if t <= PQ_ITERS:
                sql.append(
                    f""",
    s{s}c{t} AS (
        SELECT code, list(av ORDER BY dim) AS c
        FROM (
            SELECT code, dim, avg(xv) AS av FROM (
                SELECT a.code, generate_subscripts(x.v, 1) AS dim,
                       unnest(x.v) AS xv
                FROM s{s}a{t} a JOIN s{s} x USING (vec_id)
            ) raw GROUP BY code, dim
        ) per_dim
        GROUP BY code
    )"""
                )
    chain = "".join(sql)
    final_codes = " , ".join(
        f"s{s}a{PQ_ITERS + 1}.code AS code{s}" for s in range(PQ_M)
    )
    joins = " ".join(
        f"JOIN s{s}a{PQ_ITERS + 1} ON s{s}a{PQ_ITERS + 1}.vec_id = e.vec_id"
        for s in range(PQ_M)
    )
    qsubs = ", ".join(
        f"list_slice(emb, {s * PQ_SUB + 1}, {(s + 1) * PQ_SUB}) AS q{s}"
        for s in range(PQ_M)
    )
    adc_terms = " + ".join(
        _SQDIST_SQL.format(a=f"q.q{s}", b=f"s{s}c{PQ_ITERS}.c") + ""
        for s in range(PQ_M)
    )
    cb_joins = " ".join(
        f"JOIN s{s}c{PQ_ITERS} ON s{s}c{PQ_ITERS}.code = enc.code{s}"
        for s in range(PQ_M)
    )
    packed = " + ".join(
        f"enc.code{s} * {PQ_K ** (PQ_M - 1 - s)}" for s in range(PQ_M)
    )
    return (
        chain
        + f""",
    enc AS (
        SELECT e.vec_id, {final_codes}
        FROM e {joins}
    ),
    q AS (SELECT {qsubs} FROM e WHERE vec_id = 0)
    SELECT CAST(enc.vec_id AS BIGINT) AS vec_id,
           CAST({packed} AS BIGINT) AS pq_code,
           {adc_terms} AS adc_dist
    FROM enc {cb_joins}, q
    WHERE enc.vec_id <> 0
    ORDER BY adc_dist ASC, enc.vec_id
    LIMIT {TOPK}"""
    )


@register(
    "q_pq_adc_topk",
    oracle=_pq_oracle(),  # generated: PQ_M unrolled Lloyd chains + encode + ADC
    tags=("similarity", "ann", "pq", "quantization"),
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: deterministic-Lloyd codebooks for the
    PQ_M subspaces from one fit, vectors encoded to PQ_M codes, top-k
    by asymmetric distance (ADC) against the vec_id=0 query.

    Scale shape: the fit collects only the PQ_M×PQ_K×PQ_SUB codebook
    (offline shared artifact); ENCODE is map-only — codebooks are
    embedded as literal arrays, so each vector's codes come from the
    shared nearest-centroid argmin with no join and no shuffle of
    vectors; the ADC ranking shuffles one (vec_id, codes, dist) row per
    vector into a top-k. At 100 TB the 4-byte codes (64× smaller than
    float32 vectors) are what sits in memory — this is how a
    billion-vector index fits a cluster.

    The oracle unrolls the PQ_M subspace fits, the encoding argmin, and
    the ADC sum with structurally identical folds; codebook values
    differ only by partial-agg ulps, absorbed by the strict-mode
    envelope.
    """
    e = load_table(spark, sf_dir, "embeddings")
    books = _fit_pq_codebooks(e, cache_key=corpus_cache_key(sf_dir))
    # argmin over the SURVIVING codebook entries (a Lloyd cluster can
    # empty out), tie-broken by code id
    code_exprs = [
        f"{_nearest_cell_sql(_sub_spark('embedding', s), books[s], _pq_score)} AS code{s}"
        for s in range(PQ_M)
    ]
    enc = e.filter(F.col("vec_id") != 0).selectExpr("vec_id", *code_exprs)
    qrow = (
        e.filter(F.col("vec_id") == 0)
        .selectExpr(*[f"{_sub_spark('embedding', s)} AS q{s}" for s in range(PQ_M)])
        .collect()[0]
    )
    adc_terms = []
    for s in range(PQ_M):
        qlit = _pq_lit([float(x) for x in qrow[f"q{s}"]])
        # look the centroid up by CODE ID via a literal map-style CASE
        # (codes need not be dense after cluster die-off)
        lookup = "CASE code{s} ".format(s=s) + " ".join(
            f"WHEN {code} THEN {_pq_lit(c)}" for code, c in books[s]
        ) + " END"
        adc_terms.append(_SQDIST_SPARK.format(a=qlit, b=f"({lookup})"))
    packed = " + ".join(
        f"code{s} * {PQ_K ** (PQ_M - 1 - s)}" for s in range(PQ_M)
    )
    return (
        enc.selectExpr(
            "vec_id",
            f"CAST({packed} AS BIGINT) AS pq_code",
            f"{' + '.join(adc_terms)} AS adc_dist",
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(TOPK)
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication inside k-means cells
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication")
# ---------------------------------------------------------------------------

#: within-cell cosine above this ⇒ semantic duplicates. The paper runs
#: τ ≈ 0.95 on real web embeddings; the synthetic fixture vectors are
#: near-orthogonal (pairwise p99 ≈ 0.29, max ≈ 0.51), so 0.35 is the
#: value that exercises the operator with real removals here.
SEMDEDUP_TAU = 0.35

#: pairwise work is Σ_cell |cell|² and the catalog pins IVF_K=8 for
#: oracle replay, so cells grow linearly with the corpus — the 10×
#: replication experiment (SCALE.md) measured 24× wall-clock at 20k
#: vectors. SemDeDup stays linear ONLY by scaling k ∝ N (the paper
#: runs k = 50k on LAION); past this bound the fixed-k catalog query
#: refuses instead of planning a quadratic job.
SEMDEDUP_MAX_ROWS = 50_000


def _semdedup_oracle() -> str:
    """DuckDB replay over the shared deterministic Lloyd fit: same
    cells, same centroid-cosine keep order, same τ rule."""
    ip = "list_inner_product"
    chain, final_a, final_c = _lloyd_cte_chain()
    return (
        chain
        + f""",
    mem AS (
        SELECT a.cell, e.vec_id, e.emb, e.norm,
               round({ip}(e.emb, c.c)
                     / (e.norm * sqrt({ip}(c.c, c.c))), 9) AS cosc
        FROM {final_a} a
        JOIN e ON e.vec_id = a.vec_id
        JOIN {final_c} c ON c.cell = a.cell
    ),
    rem AS (
        SELECT DISTINCT x.cell, x.vec_id
        FROM mem x JOIN mem y
          ON x.cell = y.cell
         AND (y.cosc < x.cosc OR (y.cosc = x.cosc AND y.vec_id < x.vec_id))
         AND round({ip}(x.emb, y.emb) / (x.norm * y.norm), 9)
             >= {SEMDEDUP_TAU}
    )
    SELECT CAST(m.cell AS BIGINT)                    AS cell,
           CAST(count(*) AS BIGINT)                  AS n_vectors,
           CAST(count(r.vec_id) AS BIGINT)           AS n_removed,
           CAST(count(*) - count(r.vec_id) AS BIGINT) AS n_kept,
           (count(*) - count(r.vec_id)) * 1.0 / count(*) AS retention
    FROM mem m
    LEFT JOIN rem r ON r.cell = m.cell AND r.vec_id = m.vec_id
    GROUP BY m.cell
    """
    )


@register(
    "q_semdedup_cluster_prune",
    oracle=_semdedup_oracle(),
    tags=("dedup", "embeddings", "semantic", "training-data"),
)
def q_semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning
    restricted to k-means cells — cluster the corpus, compare pairs
    ONLY within a cell, and for every τ-similar pair keep the member
    farther from the centroid (the paper's low-centroid-similarity
    keep rule: peripheral examples carry more signal than the cluster
    mode). Emits the per-cell prune audit (sizes, removals,
    retention) a curation run reviews before committing τ.

    Removal rule, relationally: x is removed iff some same-cell y
    exists with cos(x, y) ≥ τ and y ranked before x by (centroid
    cosine ASC, vec_id ASC). A ranked-earlier witness is itself kept
    or removed by the same rule applied transitively — the paper's
    one-per-ε-group semantics on a deterministic order, with no
    sequential greedy loop to serialize.

    Scale shape (the paper's own layout): clustering bounds the
    quadratic — pairwise work is Σ_cell |cell|², controlled by
    choosing k ∝ N so cells stay O(1) (the paper runs k = 50k on
    LAION); vectors shuffle ONCE on cell into an Arrow-batched
    per-cell BLAS kernel (the paper's per-cluster similarity matmul),
    assignment is a broadcast map pass, and the audit aggregate
    carries 5 numbers per cell. Reuses the deterministic Lloyd
    quantizer (_fit_ivf_centroids) — fit once, shared with ANN/IVF
    and the cell profile, replayed unrolled in the oracle so the
    whole path is hash-matched.

    Float determinism: both cosines are snapped to 1e-9 (the repo's
    grid-snap pin) before any comparison, so the τ test and the keep
    order cannot flip on cross-engine (or BLAS-vs-sequential
    summation) ulp drift.
    """
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    # bounded guard action (scans ≤ MAX+1 rows), same contract as
    # q_embed_neardup_pairs: fixed k makes cells — and the within-cell
    # quadratic — grow with the corpus. A session primed via
    # use_quantizer_artifact with a k ∝ N artifact IS the guard's
    # named scale path, so the refusal stands down then — but ONLY
    # then: a primed STANDARD-k artifact keeps the exact quadratic
    # geometry this guard refuses (round-7 review catch), so the
    # stand-down predicate is scale_path_only (shared helper — the
    # round4 mutual-NN guard uses the same one).
    primed = is_artifact_primed(sf_dir, scale_path_only=True)
    n = 0 if primed else e.limit(SEMDEDUP_MAX_ROWS + 1).count()
    if n > SEMDEDUP_MAX_ROWS:
        raise ValueError(
            f"q_semdedup_cluster_prune pins IVF_K={IVF_K} for oracle replay, "
            f"so within-cell pairwise work is quadratic in the corpus — at "
            f"> {SEMDEDUP_MAX_ROWS} vectors fit a k ∝ N quantizer offline "
            f"(SemDeDup §: k = 50k for LAION): `python -m "
            f"cost_of_living_data_etl_spark.jobs.fit_quantizer --sf-dir "
            f"<dir> --k <N/1000> --out <path>`, then prime the session via "
            f"operators.similarity.use_quantizer_artifact(spark, <dir>, "
            f"<path>, allow_nonstandard_k=True) — the k ≠ IVF_K artifact "
            f"needs the explicit escape hatch because it leaves the "
            f"oracle-replayable path — instead of running this fixed-k "
            f"catalog query."
        )
    cents = _fit_ivf_centroids(e, cache_key=corpus_cache_key(sf_dir))
    cdf = e.sparkSession.createDataFrame(cents, "cell int, c array<double>")
    cdfn = cdf.withColumn("cnorm", F.sqrt(dot_expr("c", "c")))
    mem = (
        _assign_cells(e, cents)
        .join(F.broadcast(cdfn), "cell")
        .select(
            "cell",
            "vec_id",
            "embedding",
            "norm",
            F.round(cosine_expr("embedding", "c", "norm", "cnorm"), 9).alias(
                "cosc"
            ),
        )
    )

    # Within-cell pair scoring as ONE BLAS matrix product per cell
    # (the paper's own kernel — their reference implementation runs a
    # per-cluster similarity matmul on accelerators). An all-native
    # cell-keyed self-join + zip_with cosine fold was the first cut:
    # correct, but ~250k interpreted 64-dim folds made it the single
    # slowest bench query (5.7 s at sf0.1); the Arrow-batched kernel
    # does the identical math as one float64 matmul. This is the
    # sanctioned UDF case — the built-in ops express the semantics but
    # not the O(|cell|²·d) arithmetic intensity. Both engines compare
    # 1e-9-snapped cosines, so BLAS-vs-sequential summation ulp noise
    # cannot flip the τ test or the keep order.
    def _prune_cell(pdf):
        import numpy as np
        import pandas as pd

        emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.asarray(pdf["norm"], dtype=np.float64)
        sim = np.round((emb @ emb.T) / np.outer(nrm, nrm), 9)
        hit = sim >= SEMDEDUP_TAU
        np.fill_diagonal(hit, False)
        # keep order: (cosc ASC, vec_id ASC) — rank[i] = position of
        # row i in that order; x removed iff a τ-neighbor ranks earlier
        ids = np.asarray(pdf["vec_id"], dtype=np.int64)
        order = np.lexsort((ids, np.asarray(pdf["cosc"], dtype=np.float64)))
        rank = np.empty(len(order), dtype=np.int64)
        rank[order] = np.arange(len(order))
        removed = (hit & (rank[None, :] < rank[:, None])).any(axis=1)
        return pd.DataFrame(
            {"cell": pdf["cell"], "vec_id": ids, "removed": removed}
        )

    flags = mem.groupBy("cell").applyInPandas(
        _prune_cell, "cell int, vec_id long, removed boolean"
    )
    return (
        flags.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count_if("removed").alias("n_removed"),
            (F.count(F.lit(1)) - F.count_if("removed")).alias("n_kept"),
            (
                (F.count(F.lit(1)) - F.count_if("removed"))
                / F.count(F.lit(1))
            ).alias("retention"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vectors",
            "n_removed",
            "n_kept",
            "retention",
        )
    )


# ---------------------------------------------------------------------------
# IVF tuning curve: recall@k and scan cost as a function of nprobe
# ---------------------------------------------------------------------------

NPROBE_GRID = (1, 2, 3, 4)  # the knob values the curve sweeps
RECALL_NQ = 20  # fixed query panel: vec_id < RECALL_NQ


def _nprobe_curve_oracle() -> str:
    """DuckDB replay: same Lloyd fit (shared chain), brute-force
    ground truth over the query panel, IVF candidates per nprobe,
    exact-integer recall and scanned-fraction ratios."""
    ip = "list_inner_product"
    chain, final_a, final_c = _lloyd_cte_chain()
    return (
        chain
        + f""",
    qs AS (
        SELECT vec_id AS qid, emb AS qemb, norm AS qnorm
        FROM e WHERE vec_id < {RECALL_NQ}
    ),
    gt AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {ip}(e.emb, q.qemb) / (e.norm * q.qnorm) DESC,
                                e.vec_id
                   ) AS rn
            FROM e, qs q WHERE e.vec_id <> q.qid
        ) WHERE rn <= {TOPK}
    ),
    crank AS (
        SELECT qid, cell,
               row_number() OVER (
                   PARTITION BY qid
                   ORDER BY {ip}(c.c, q.qemb)
                              / (sqrt({ip}(c.c, c.c)) * q.qnorm) DESC,
                            cell
               ) AS rk
        FROM {final_c} c, qs q
    ),
    nps(np) AS (VALUES (1), (2), (3), (4)),
    probed AS (
        SELECT qid, np, cell FROM crank JOIN nps ON crank.rk <= nps.np
    ),
    csize AS (SELECT cell, count(*) AS sz FROM {final_a} GROUP BY cell),
    cand AS (
        SELECT p.qid, p.np, a.vec_id,
               row_number() OVER (
                   PARTITION BY p.qid, p.np
                   ORDER BY {ip}(e.emb, q.qemb) / (e.norm * q.qnorm) DESC,
                            a.vec_id
               ) AS rn
        FROM probed p
        JOIN {final_a} a USING (cell)
        JOIN e ON e.vec_id = a.vec_id
        JOIN qs q ON q.qid = p.qid
        WHERE a.vec_id <> p.qid
    ),
    ivf_top AS (SELECT qid, np, vec_id FROM cand WHERE rn <= {TOPK}),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qs),
    ncorp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
    hits AS (
        SELECT np, CAST(count(*) AS BIGINT) AS h
        FROM ivf_top JOIN gt USING (qid, vec_id) GROUP BY np
    ),
    scan AS (
        SELECT np, CAST(sum(sz) AS BIGINT) AS s
        FROM probed JOIN csize USING (cell) GROUP BY np
    )
    SELECT CAST(nps.np AS BIGINT) AS nprobe,
           CAST(COALESCE(h, 0) AS DOUBLE) / (nq.n * {TOPK}) AS recall_at_10,
           CAST(s AS DOUBLE) / (nq.n * ncorp.n) AS scanned_frac,
           nq.n AS n_queries
    FROM nps
    LEFT JOIN hits ON hits.np = nps.np
    JOIN scan ON scan.np = nps.np
    CROSS JOIN nq CROSS JOIN ncorp
    ORDER BY nprobe"""
    )


@register(
    "q_ivf_nprobe_recall_curve",
    oracle=_nprobe_curve_oracle(),
    tags=("similarity", "ann", "ivf", "tuning", "evaluation"),
)
def q_ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF operator's TUNING CURVE: recall@10 against brute-force
    ground truth AND the fraction of the corpus scanned, for each
    nprobe in NPROBE_GRID over a fixed RECALL_NQ-query panel — the
    measured accuracy/cost trade-off behind choosing `IVF_NPROBE`
    (q_ann_ivf_probe ships one point of this curve; capacity planning
    needs the whole frontier). Both ratios are single divisions of
    exact BIGINT counts (hit intersections, probed cell sizes), so the
    row hashes replay bit-for-bit; every top-k is tie-broken
    (cos DESC, vec_id) on cosines both engines compute from the same
    expression tree.

    Scale: the quantizer fit is the shared cached artifact; candidate
    generation per (query, nprobe) scans only the probed cells. The
    brute-force ground truth is the VALIDATION instrument — its cost
    is |panel| × corpus on a fixed-size panel (the LSH-blocking-
    quality precedent), not a production path.
    """
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _fit_ivf_centroids(e, cache_key=corpus_cache_key(sf_dir))
    assigned = _assign_cells(e, cents)
    cdf = spark.createDataFrame(cents, "cell int, c array<double>")
    centroids = cdf.withColumn("cnorm", F.sqrt(dot_expr("c", "c")))

    qs = e.filter(F.col("vec_id") < RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    gtw = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    gt = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos"),
        )
        .withColumn("rn", F.row_number().over(gtw))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "vec_id")
    )
    crw = Window.partitionBy("qid").orderBy(
        F.col("cdist").desc(), F.col("cell")
    )
    crank = (
        centroids.crossJoin(F.broadcast(qs))
        .select(
            "qid",
            "cell",
            cosine_expr("c", "qemb", "cnorm", "qnorm").alias("cdist"),
        )
        .withColumn("rk", F.row_number().over(crw))
    )
    nps = spark.createDataFrame([(n,) for n in NPROBE_GRID], "np int")
    probed = crank.join(
        F.broadcast(nps), F.col("rk") <= F.col("np")
    ).select("qid", "np", "cell")
    csize = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
    cw = Window.partitionBy("qid", "np").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    ivf_top = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .join(F.broadcast(qs), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "np",
            "vec_id",
            cosine_expr("embedding", "qemb", "norm", "qnorm").alias("cos"),
        )
        .withColumn("rn", F.row_number().over(cw))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "np", "vec_id")
    )
    n_q = qs.count()
    n_corp = e.count()
    hits = ivf_top.join(gt, ["qid", "vec_id"]).groupBy("np").agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    scan = (
        probed.join(csize, "cell")
        .groupBy("np")
        .agg(F.sum("sz").cast("long").alias("s"))
    )
    return (
        F.broadcast(nps)
        .join(hits, "np", "left")
        .join(scan, "np")
        .select(
            F.col("np").cast("long").alias("nprobe"),
            F.expr(
                f"CAST(COALESCE(h, 0) AS DOUBLE) / ({n_q} * {TOPK})"
            ).alias("recall_at_10"),
            F.expr(f"CAST(s AS DOUBLE) / ({n_q} * {n_corp})").alias(
                "scanned_frac"
            ),
            F.lit(n_q).cast("long").alias("n_queries"),
        )
        .orderBy("nprobe")
    )
