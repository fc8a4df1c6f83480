"""Round-8 catalog additions.

Registered LAST in plans/all_queries.py so the driver's
unverified-first sampling picks the new names up immediately (after
the 16 re-invalidated round-7 rewrites, which sort first).

1. ``q_pps_char_weighted_sample`` — probability-proportional-to-size
   SYSTEMATIC sampling: 20 deterministic grid points over the
   cumulative character mass select documents with probability ∝ size
   (the token-weighted audit draw; unweighted every-k-th is
   q_systematic_sample_stride). Exclusive prefix sums from
   operators/distributed_rank.py; all-BIGINT.
2. ``q_curriculum_length_phases`` — length-curriculum phase manifest:
   shortest-first ordering split into 4 equal CHARACTER-MASS phases
   (not equal doc counts), the schedule a sequence-length curriculum
   trainer consumes. Exclusive prefix sums again.
3. ``q_mann_whitney_order_value`` — Mann-Whitney U (rank-sum) test of
   order values, URGENT vs LOW priority, midranks with tie-corrected
   normal approximation — the nonparametric two-sample test the
   t-test family (q_ab_test_welch) lacks. Doubled-midrank prefix
   scans keep every intermediate BIGINT-exact.
4. ``q_hodges_lehmann_uplift`` — Hodges-Lehmann shift estimate (median
   of all pairwise daily-revenue differences, URGENT − LOW): the
   robust effect-SIZE companion to the rank test; calendar-bounded
   pair frame, median as a distributed order statistic.
5. ``q_hill_tail_index_lengths`` — Hill tail-index of the document
   length distribution over the top-k order statistics: quantifies
   how heavy the long-document tail is (finite-mean check before
   trusting mean-based length budgets).
6. ``q_minhash_jaccard_calibration`` — sketch-calibration audit:
   MinHash-estimated Jaccard (matching signature components / 16) vs
   EXACT Jaccard on every verified near-dup pair, grouped by
   signature agreement — the measured answer to "how biased is the
   16-perm sketch on this corpus".
7. ``q_lateral_topk_orders`` — per-customer top-3 orders via a
   correlated LATERAL subquery with ORDER BY + LIMIT (Spark 4 lateral
   join surface; the window-function formulation of the same shape is
   q_topk_orders_per_priority).
8. ``q_vocab_coverage_curve`` — token-mass coverage of the top-k
   vocabulary (k = 5/25/1000): the tokenizer-design curve "how much
   of the corpus do the k most frequent words cover". Word ranks from
   the distributed zipWithIndex — no single-task sort over the
   vocabulary, which scales with the corpus (Heaps' law).

Float discipline per the house recipes: BIGINT as long as possible,
money on the 2-decimal grid, unordered double sums via the sorted
fold ``det_sum``, single final divisions on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# 1. PPS systematic sample over character mass
# --------------------------------------------------------------------------

PPS_DRAWS = 20

_PPS_ORACLE = f"""
WITH c AS (
    SELECT doc_id, n_chars,
           CAST(coalesce(sum(n_chars) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cb
    FROM documents
),
tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w FROM documents),
grid AS (
    SELECT i, CAST(((2 * i + 1) * (SELECT w FROM tot)) // {2 * PPS_DRAWS} AS BIGINT) AS g
    FROM range({PPS_DRAWS}) t(i)
)
SELECT CAST(i AS INT)        AS draw_idx,
       doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       cb                    AS cum_before
FROM grid JOIN c ON g >= cb AND g < cb + n_chars
"""


@register(
    "q_pps_char_weighted_sample",
    oracle=_PPS_ORACLE,
    tags=("corpus", "sampling", "pps", "distributed-rank"),
)
def q_pps_char_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample: lay PPS_DRAWS centered grid points over
    the cumulative character mass (ordered by doc_id) and select the
    document whose [cum_before, cum_before+n_chars) interval contains
    each point — every document drawn with probability ∝ its size, the
    right audit draw when inspection cost scales with length (a
    doc longer than the stride can absorb several draws; that is the
    PPS contract, not a bug).

    Exactness: all-BIGINT — grid points are integer DIV of exact char
    totals, intervals are exclusive prefix sums
    (operators/distributed_rank.py), membership is integer compares.

    Scale: prefix sums are the bucket-partitioned scan (no single-task
    window); the PPS_DRAWS-row grid broadcast-joins against the
    interval frame (BroadcastNestedLoopJoin over a constant-size build
    side), so the pass stays one scan + the primitive's bounded
    exchanges at any corpus size.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_prefix_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c = with_prefix_sums(
        docs,
        ["doc_id"],
        F.floor(F.col("doc_id") / F.lit(4096)),
        {"n_chars": "cum_before"},
    )
    tot = docs.groupBy().agg(F.sum("n_chars").cast("long").alias("w"))
    grid = (
        spark.range(PPS_DRAWS)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("id").cast("int").alias("draw_idx"),
            F.expr(f"(2 * id + 1) * w DIV {2 * PPS_DRAWS}").alias("g"),
        )
    )
    return (
        c.join(
            F.broadcast(grid),
            (F.col("g") >= F.col("cum_before"))
            & (F.col("g") < F.col("cum_before") + F.col("n_chars")),
        )
        .select(
            "draw_idx",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("cum_before").cast("long").alias("cum_before"),
        )
    )


# --------------------------------------------------------------------------
# 2. length-curriculum phases by character-mass quartile
# --------------------------------------------------------------------------

CURRICULUM_PHASES = 4

_CURRICULUM_ORACLE = f"""
WITH c AS (
    SELECT doc_id, n_chars,
           CAST(coalesce(sum(n_chars) OVER (
               ORDER BY n_chars, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cb
    FROM documents
),
tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w FROM documents)
SELECT CAST(least({CURRICULUM_PHASES - 1},
                  (cb * {CURRICULUM_PHASES}) // (SELECT w FROM tot)) + 1 AS INT)
           AS phase,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_chars) AS BIGINT)  AS chars_total,
       CAST(min(n_chars) AS BIGINT)  AS min_chars,
       CAST(max(n_chars) AS BIGINT)  AS max_chars
FROM c
GROUP BY 1
"""


@register(
    "q_curriculum_length_phases",
    oracle=_CURRICULUM_ORACLE,
    tags=("corpus", "curriculum", "distributed-rank"),
)
def q_curriculum_length_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length curriculum manifest: documents ordered
    shortest-first, split into CURRICULUM_PHASES phases of EQUAL
    CHARACTER MASS (equal training budget per phase, not equal doc
    counts — the quantity a curriculum scheduler actually allocates).
    Phase = which quarter of the cumulative mass the document's
    interval starts in; per phase the manifest reports doc count,
    char total, and the length band.

    Exactness: phase is integer DIV of exact BIGINT prefix sums over
    the TOTAL order (n_chars, doc_id); the least() cap only guards
    zero-length tail docs whose cum_before equals the full mass.

    Scale: one prefix-sum pass (bucket-partitioned,
    operators/distributed_rank.py) + a ≤4-row aggregate; nothing
    global, nothing quadratic.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_prefix_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c = with_prefix_sums(
        docs,
        ["n_chars", "doc_id"],
        F.floor(F.col("n_chars") / F.lit(64)),
        {"n_chars": "cb"},
    )
    tot = docs.groupBy().agg(F.sum("n_chars").cast("long").alias("w"))
    phase = F.expr(
        f"CAST(least({CURRICULUM_PHASES - 1}, (cb * {CURRICULUM_PHASES}) DIV w)"
        f" + 1 AS INT)"
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy(phase.alias("phase"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


# --------------------------------------------------------------------------
# 3. Mann-Whitney U with midranks + tie correction
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
# 4. Hodges-Lehmann shift estimate (median of pairwise differences)
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


# --------------------------------------------------------------------------
# 5. Hill tail-index of document lengths
# --------------------------------------------------------------------------

HILL_K = 100  # top-k order statistics (fixture-sized; 10^4-10^5 at corpus scale)

_HILL_ORACLE = f"""
WITH top AS (
    SELECT n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT {HILL_K + 1}
),
ref AS (SELECT min(n_chars) AS x_ref, count(*) AS c FROM top)
SELECT CAST(r.c - 1 AS BIGINT)   AS k,
       CAST(r.x_ref AS BIGINT)   AS x_ref,
       (r.c - 1) / list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list_sort(list(ln(CAST(t.n_chars AS DOUBLE) / r.x_ref)))),
           (a, b) -> a + b
       ) AS hill_alpha
FROM top t CROSS JOIN ref r
GROUP BY r.c, r.x_ref
"""


@register(
    "q_hill_tail_index_lengths",
    oracle=_HILL_ORACLE,
    tags=("text", "statistics", "tail"),
)
def q_hill_tail_index_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index α of the document-length distribution from the
    top-k order statistics: α ≤ 1 means the length tail is so heavy
    the MEAN is unstable (mean-based token budgeting is then wrong;
    use the exact deciles of q_doc_length_order_stats instead); α ≈ 2+
    means a tame tail. The standard heavy-tail diagnostic before
    trusting any per-source average length.

    Exactness: the top-(k+1) frame comes from TakeOrderedAndProject
    (k+1 rows per partition to the driver — no global sort, no
    unpartitioned window); x_ref is its min; every tied boundary doc
    contributes ln(1)=0, so tie selection inside the cut cannot change
    the sum; logs fold via the sorted det_sum against DuckDB's
    list_sort fold.

    Scale: k is a constant; the only full pass is the scan feeding
    top-k.
    """
    docs = load_table(spark, sf_dir, "documents").select("n_chars", "doc_id")
    top = docs.orderBy(F.col("n_chars").desc(), "doc_id").limit(HILL_K + 1)
    ref = top.groupBy().agg(
        F.min("n_chars").alias("x_ref"), F.count(F.lit(1)).alias("c")
    )
    terms = top.crossJoin(F.broadcast(ref)).select(
        "x_ref",
        "c",
        F.log(F.col("n_chars").cast("double") / F.col("x_ref")).alias("lt"),
    )
    return terms.groupBy("c", "x_ref").agg(
        (F.col("c") - 1).cast("long").alias("k"),
        F.max("x_ref").cast("long").alias("x_ref2"),
        ((F.col("c") - 1) / det_sum("lt")).alias("hill_alpha"),
    ).select(
        "k",
        F.col("x_ref2").alias("x_ref"),
        "hill_alpha",
    )


# --------------------------------------------------------------------------
# 6. MinHash-vs-exact Jaccard calibration on verified pairs
# --------------------------------------------------------------------------


def _calibration_oracle() -> str:
    from cost_of_living_data_etl_spark.operators.dedup import (
        _MINHASH_ORACLE,
        _SHINGLE_H_SQL,
        _minhash_agg_sql,
        NUM_PERM,
        SHINGLES_SQL,
    )

    match_terms = " + ".join(
        f"CAST(s1.mh{j} = s2.mh{j} AS INT)" for j in range(NUM_PERM)
    )
    return f"""
WITH sh AS (
    SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hx AS (SELECT doc_id, {_SHINGLE_H_SQL} AS h FROM ex),
mh AS (SELECT doc_id, {_minhash_agg_sql()} FROM hx GROUP BY doc_id),
pairs AS (SELECT doc_id_1, doc_id_2, jaccard FROM ({_MINHASH_ORACLE}) p),
scored AS (
    SELECT p.jaccard, ({match_terms}) AS n_matches
    FROM pairs p
    JOIN mh s1 ON s1.doc_id = p.doc_id_1
    JOIN mh s2 ON s2.doc_id = p.doc_id_2
)
SELECT CAST(n_matches AS INT)          AS n_matches,
       n_matches / {float(NUM_PERM)}   AS est_jaccard,
       CAST(count(*) AS BIGINT)        AS n_pairs,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(jaccard))),
                   (a, b) -> a + b) / count(*) AS mean_exact_jaccard,
       n_matches / {float(NUM_PERM)}
       - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(jaccard))),
                     (a, b) -> a + b) / count(*) AS bias
FROM scored
GROUP BY n_matches
"""


@register(
    "q_minhash_jaccard_calibration",
    oracle=_calibration_oracle(),
    tags=("dedup", "minhash", "calibration"),
)
def q_minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration audit of the 16-perm MinHash: on every
    VERIFIED near-dup pair, compare the signature-estimated Jaccard
    (matching components / 16) against the exact hashed-shingle
    Jaccard, grouped by agreement count — the measured bias table that
    says whether the sketch under- or over-promotes candidates on THIS
    corpus (the input to choosing NUM_PERM/BANDS, which the LSH recall
    math assumes unbiased).

    Scale: pairs are the already-bucketed LSH miner output (never
    all-pairs); the SAME persisted signature table feeds both the
    miner and the two calibration joins, so the corpus is shingled
    exactly once (a separate minhash_pair_plan call would shingle it
    twice, which grew 5.1× over the sf0.1→sf1.0 decade); the result
    is ≤ NUM_PERM+1 rows. Exact means fold via det_sum.
    """
    from cost_of_living_data_etl_spark.operators.dedup import (
        NUM_PERM,
        neardup_pairs_from_sigs,
        signature_table,
    )

    mh_full = signature_table(spark, sf_dir)
    pairs = neardup_pairs_from_sigs(mh_full)
    mh = mh_full.select("doc_id", *[f"mh{j}" for j in range(NUM_PERM)])
    s1 = mh.select(
        F.col("doc_id").alias("doc_id_1"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_PERM)],
    )
    s2 = mh.select(
        F.col("doc_id").alias("doc_id_2"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_PERM)],
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(NUM_PERM)
    )
    scored = (
        pairs.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select("jaccard", matches.cast("int").alias("n_matches"))
    )
    est = F.max("n_matches") / F.lit(float(NUM_PERM))  # constant per group
    return scored.groupBy("n_matches").agg(
        est.alias("est_jaccard"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (det_sum("jaccard") / F.count(F.lit(1))).alias("mean_exact_jaccard"),
        (est - det_sum("jaccard") / F.count(F.lit(1))).alias("bias"),
    )


# --------------------------------------------------------------------------
# 7. correlated LATERAL subquery top-k
# --------------------------------------------------------------------------

_LATERAL_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 3
) o
"""


@register(
    "q_lateral_topk_orders",
    oracle=_LATERAL_ORACLE,
    tags=("sql", "lateral", "topk"),
)
def q_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders by value via a correlated LATERAL
    subquery with ORDER BY + LIMIT — the Spark 4 lateral-join SQL
    surface (reference capability S5's pushed-SQL idiom generalized;
    the window-function formulation of per-group top-k is
    q_topk_orders_per_priority). Total order (o_totalprice DESC,
    o_orderkey) makes the 3-set deterministic under ties; customers
    with no orders drop (inner lateral), matching the oracle.

    Scale: Catalyst de-correlates the lateral into a join + per-key
    limit (rank-based), so this plans like the window top-k — one
    shuffle on the key, no per-customer driver loop.
    """
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) o
        """
    )


# --------------------------------------------------------------------------
# 8. vocabulary coverage curve
# --------------------------------------------------------------------------

COVERAGE_KS = (5, 25, 1000)

_COVERAGE_ORACLE = f"""
WITH counts AS (
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents WHERE trim(text) <> ''
    )
    GROUP BY word
),
ranked AS (
    SELECT cnt,
           row_number() OVER (ORDER BY cnt DESC, word) - 1 AS pos
    FROM counts
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM counts),
ks AS (SELECT unnest([{", ".join(str(k) for k in COVERAGE_KS)}]) AS k)
SELECT CAST(k AS INT)                      AS k,
       CAST(sum(cnt) AS BIGINT)            AS covered_tokens,
       CAST(max(t.t) AS BIGINT)            AS total_tokens,
       sum(cnt) * 1.0 / max(t.t)           AS coverage
FROM ks JOIN ranked ON pos < k CROSS JOIN tot t
GROUP BY k
"""


@register(
    "q_vocab_coverage_curve",
    oracle=_COVERAGE_ORACLE,
    tags=("text", "tokenizer", "coverage", "distributed-rank"),
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary (the same
    whitespace tokenization as q_word_frequency_topk): for each k,
    what fraction of all corpus tokens the k most frequent words
    cover — the curve a tokenizer/vocab-size decision reads (where it
    flattens, bigger vocabularies stop paying).

    Exactness: word ranks come from the distributed zipWithIndex over
    (cnt DESC, word) — bucket −cnt, total order, BIGINT counts;
    coverage is one division of exact sums.

    Scale: the vocabulary grows with the corpus (Heaps' law), so the
    rank MUST NOT be a single-task window — the bucket-partitioned
    position replaces it; the k-grid is a broadcast literal.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.trim(F.col("text")).alias("t"))
        .filter(F.col("t") != "")
        .select(F.explode(F.split("t", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = with_global_position(
        counts, [F.desc("cnt"), F.asc("word")], -F.col("cnt")
    )
    tot = counts.groupBy().agg(F.sum("cnt").cast("long").alias("t"))
    ks = spark.createDataFrame([(k,) for k in COVERAGE_KS], "k int")
    return (
        ranked.join(F.broadcast(ks), F.col("pos") < F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum("cnt").cast("long").alias("covered_tokens"),
            F.max("t").cast("long").alias("total_tokens"),
            (F.sum("cnt") / F.max("t")).alias("coverage"),
        )
    )
