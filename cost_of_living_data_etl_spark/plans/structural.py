"""Structural operators: exact similarity join, interval algebra,
order-theoretic frontier, weighted order statistics, iterative closure.

Five operator shapes the reference's consumers would reach for next,
each chosen because it demonstrates a DISTINCT distributed-algorithm
pattern the rest of the catalog doesn't yet cover (the reference
`app.py` stops at append-loading facts; these are passes over them):

- **exact set-similarity self-join with prefix filtering** (AllPairs /
  PPJoin family, Bayardo et al., WWW'07): the EXACT complement to the
  approximate MinHash-LSH path in `operators/dedup.py` — a provably
  lossless candidate pruning, then exact verification. Same answer as
  the naive all-pairs join at a tiny fraction of the candidates.
- **interval coalescing** (gaps-and-islands): merge overlapping
  per-user activity intervals into islands with a cumulative-max
  window — the interval-union primitive under sessionization, SLA
  uptime, and coverage metrics.
- **Pareto frontier** (skyline query): the non-dominated set on
  (recency, price), computed with a lossless day-level reduction
  before any single-partition step.
- **exact weighted median** via key-grouped prefix sums — the order
  statistic `q_percentiles_order_value` (unweighted) and
  `q_quantile_sketch_rollup` (approximate) don't cover.
- **hierarchy closure by pointer doubling**: root/depth over a
  parent-pointer table in O(log depth) self-joins — the iterative-
  fixpoint pattern (its DuckDB oracle is a genuine `WITH RECURSIVE`,
  the first recursive-CTE parity check in the catalog).

Float discipline (house rules): counts/micros stay integral end-to-end;
money snaps to the cents grid (integral sum, divide once); Jaccard and
medians are single divisions / selections of identical operands, so
both engines produce bit-identical doubles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
    until_settled,
)
from cost_of_living_data_etl_spark.operators.dedup import SHINGLES_SQL, shingle_docs
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

SETSIM_T = 0.5  # exact-join Jaccard threshold
IDLE_GAP_US = 300_000_000  # activity interval: event covers [ts, ts+5min)
HIER_ROOTS = 5  # synthetic supplier forest: nodes 0..4 are roots
HIER_ROUNDS = 8  # pointer-doubling round cap: resolves depth < 2^8


# --- exact set-similarity self-join (prefix filtering) ----------------------

_SETSIM_ORACLE = f"""
WITH sh AS (SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents),
sz AS (SELECT doc_id, length(shingles) AS n FROM sh),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT CAST(d1 AS BIGINT) AS doc_id_1, CAST(d2 AS BIGINT) AS doc_id_2,
       i * 1.0 / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = inter.d1
JOIN sz sb ON sb.doc_id = inter.d2
WHERE i * 1.0 / (sa.n + sb.n - i) >= {SETSIM_T}
ORDER BY doc_id_1, doc_id_2
"""


@register(
    "q_setsim_prefix_join",
    oracle=_SETSIM_ORACLE,
    tags=("dedup", "similarity-join", "exact"),
)
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL document pairs with exact 3-gram-shingle Jaccard >= 0.5,
    found without the all-pairs join: prefix filtering (AllPairs /
    PPJoin family).

    Under ANY global token order, two sets with J >= t must share a
    token inside their first ``n - ceil(t*n) + 1`` tokens (else too
    few tokens remain to reach the required overlap) — so joining
    PREFIX tokens only is a provably lossless candidate generator.
    Ordering tokens rarest-first (by document frequency) makes those
    prefixes collide as rarely as possible; PPJoin's positional filter
    then discards matches that leave too few trailing tokens to reach
    the required overlap. Candidates verify with the exact Jaccard on
    the full hashed-shingle sets.

    Tokens travel as xxhash64 of the shingle, never the string: a
    collision merges two tokens, which can only ADD candidates
    (intersections grow, unions shrink under merging), never drop a
    true pair.

    100 TB: the shuffles carry (doc_id, token_hash) and (doc_id,
    token_hash, df) pairs — never text. The quadratic lives only
    inside per-prefix-token buckets (rarest-first keeps them small);
    the production skew guard is ``setsim_pairs(max_prefix_df=...)``,
    which drops df-capped tokens from prefixes entirely — proven on
    the hostile boilerplate fixture (SCALE.md §"hostile fixture
    through the pair consumers"). This is the exact-answer complement
    of ``q_dedup_minhash_lsh``: LSH for recall-tunable speed, prefix
    join when the answer must be exact.
    """
    return setsim_pairs(load_table(spark, sf_dir, "documents"))


def setsim_pairs(docs: DataFrame, max_prefix_df: int | None = None) -> DataFrame:
    """Exact Jaccard >= SETSIM_T pair miner (PPJoin prefix filtering)
    over a (doc_id, text) frame — the engine behind
    ``q_setsim_prefix_join`` and the threshold-curve consumer.

    ``max_prefix_df`` is the skew guard the docstring above names:
    tokens with document frequency above the cap are dropped from
    PREFIXES (the candidate generator) — a boilerplate family whose
    every token is df-heavy generates NO candidates instead of a b²
    bucket. Candidates that are generated still verify on the full
    hashed-shingle sets, so surviving pairs are exact; the trade is
    recall on pairs whose ONLY shared prefix token is df-heavy (i.e.
    boilerplate families — which exact dedup catches upstream). The
    default None is lossless, which the oracles replay exactly. For
    callers that want a cap, 1000 is the recommended value: a token
    matching d documents emits up to d² candidates, so 1000 bounds
    any token's contribution to ≤ ~500k pairs, the same bound as
    ``lsh_candidates(max_bucket=1000)``.
    """
    # ONE shingling pass: the regex split + 3-gram build is the
    # expensive kernel and this plan consumes its output on THREE
    # branches (df counts, prefix ranking, verification) — Catalyst
    # shares no common subplan across branches, so materialize it once
    # (same localCheckpoint discipline as connected components). Only
    # (doc_id, hashes) is materialized — text and shingle strings stay
    # inside the scan stage; measured, the string arrays were most of
    # the checkpoint cost. hs = in-doc-distinct 64-bit token hashes;
    # hash identity is the house convention (exact dedup groups on
    # md5) — a cross-doc collision merges two tokens, which only ADDS
    # candidates, and verification on hashed sets carries a 2^-64-per-
    # pair tail, vs LSH's tunable-but-material false-negative rate.
    sh = (
        shingle_docs(docs)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr("transform(shingles, s -> xxhash64(s))")
            ).alias("hs"),
        )
        .withColumn("n_h", F.size("hs"))
        # EAGER, not lazy: with a lazy checkpoint the first
        # job computes `sh` once per consuming stage — the prefix
        # chain AND both verify-join sides each re-ran the shingle +
        # xxhash kernel (stage decomposition: full pass cost ~1.7 s
        # more than the candidate stage alone; eager A/B 4.9 -> 3.9 s
        # on the quietest interleaved rep). The analyzed plan is the
        # same LogicalRDD in both modes, so fingerprints don't churn,
        # and plan-only passes still degrade to lazy.
        .transform(eager_checkpoint)
    )
    tok = sh.select("doc_id", "n_h", F.explode("hs").alias("h"))
    df_counts = tok.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(df_counts, "h").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n_h") - F.ceil(F.lit(SETSIM_T) * F.col("n_h")) + 1
    )
    if max_prefix_df is not None:
        # skew guard: df-heavy tokens never generate candidates
        prefix = prefix.filter(F.col("df") <= max_prefix_df)
    prefix = prefix.select("doc_id", "h", "n_h", "rn")
    a = prefix.select(
        F.col("doc_id").alias("d1"),
        "h",
        F.col("n_h").alias("na"),
        F.col("rn").alias("pa"),
    )
    b = prefix.select(
        F.col("doc_id").alias("d2"),
        "h",
        F.col("n_h").alias("nb"),
        F.col("rn").alias("pb"),
    )
    # J >= t  ⟺  overlap >= t/(1+t) * (na+nb); with t = 1/2 that is
    # alpha = ceil((na+nb)/3), kept in exact integer arithmetic
    if SETSIM_T != 0.5:
        raise ValueError("alpha expression below is derived for SETSIM_T = 1/2")
    alpha = F.expr("(na + nb + 2) div 3")
    cands = (
        a.join(b, "h")
        .filter(
            (F.col("d1") < F.col("d2"))
            # size filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
            & (
                F.least("na", "nb")
                >= F.lit(SETSIM_T) * F.greatest("na", "nb")
            )
            # positional filter (PPJoin): matching at positions (pa, pb)
            # leaves at most 1 + min(na-pa, nb-pb) common tokens; the
            # FIRST common prefix token of any true pair satisfies this,
            # so pruning occurrences that violate it is lossless
            & (
                1 + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
                >= alpha
            )
        )
        .select("d1", "d2")
        .distinct()
    )
    # exact verification on the full hashed-shingle sets (candidates only)
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"))
    verified = (
        cands.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("hs1", "hs2")).alias("i"),
            (F.size("hs1") + F.size("hs2")).alias("ns"),
        )
        .select(
            "d1",
            "d2",
            (F.col("i") / (F.col("ns") - F.col("i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= SETSIM_T)
    )
    return verified.select(
        F.col("d1").cast("long").alias("doc_id_1"),
        F.col("d2").cast("long").alias("doc_id_2"),
        "jaccard",
    ).orderBy("doc_id_1", "doc_id_2")


# --- interval coalescing (gaps-and-islands) ---------------------------------

def _islands(ev: DataFrame, part_cols: list[str]) -> DataFrame:
    """Gaps-and-islands over [s, en) intervals; returns one row per
    island with (part_cols..., isl, st, e2). An interval starts a new
    island iff its start exceeds the running max end of all earlier
    intervals (a cumulative max, so a contained interval breaks
    nothing); the island id is the running count of such breaks."""
    order = Window.partitionBy(*part_cols).orderBy("s", "en")
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    run = order.rowsBetween(Window.unboundedPreceding, 0)
    flagged = ev.withColumn("pmax", F.max("en").over(prev)).withColumn(
        "brk",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
        ).otherwise(0),
    )
    return (
        flagged.withColumn("isl", F.sum("brk").over(run))
        .groupBy(*part_cols, "isl")
        .agg(F.min("s").alias("st"), F.max("en").alias("e2"))
    )


def _islands_sql(src: str, part_cols: list[str]) -> str:
    """DuckDB twin of ``_islands``: a subquery over the (part_cols...,
    s, en) rows of relation ``src`` with one row per island,
    (part_cols..., isl, st, e2)."""
    keep = "".join(f"{c}, " for c in part_cols)
    over = f"PARTITION BY {', '.join(part_cols)} " if part_cols else ""
    return f"""(
    SELECT {keep}isl, min(s) AS st, max(en) AS e2
    FROM (SELECT {keep}s, en,
                 sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                   OVER ({over}ORDER BY s, en ROWS UNBOUNDED PRECEDING) AS isl
          FROM (SELECT {keep}s, en,
                       max(en) OVER ({over}ORDER BY s, en
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS pmax
                FROM {src}) m) g
    GROUP BY {keep}isl)"""


#: per-user activity islands ``i`` over the [ts, ts+5min) intervals ``e``
_USER_ISLANDS_CTE = f"""e AS (SELECT user_id, epoch_us(ts) AS s,
                  epoch_us(ts) + {IDLE_GAP_US} AS en
           FROM events),
i AS {_islands_sql("e", ["user_id"])}"""

_ISLANDS_ORACLE = f"""
WITH {_USER_ISLANDS_CTE}
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(e2 - st) AS BIGINT) AS covered_us
FROM i GROUP BY user_id ORDER BY user_id
"""


@register(
    "q_interval_merge_islands",
    oracle=_ISLANDS_ORACLE,
    tags=("events", "intervals", "window"),
)
def q_interval_merge_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge each user's overlapping activity intervals (event covers
    [ts, ts+5min)) into maximal islands; report islands and covered
    time per user — the interval-union under uptime/coverage metrics.

    Gaps-and-islands in two windows, both partitioned BY USER: an
    interval starts a new island iff its start exceeds the running max
    end of all earlier intervals (cumulative max handles contained
    intervals that a lag-1 comparison would break on); the island id
    is the running count of such breaks. Differs from
    ``q_events_sessionization`` (gap between POINTS) in merging
    DURATIONS — a contained or back-dated interval extends nothing
    but also splits nothing.

    All arithmetic is integral microseconds (`unix_micros` /
    `epoch_us`) — no float, no timezone, hash-exact across engines.
    100 TB: both windows share ONE user_id exchange over (user_id,
    start, end) triples; after them only ISLAND-level rows (partial-
    agg combined) move, and per-user interval counts are human-
    bounded, so no partition outgrows memory.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(IDLE_GAP_US)).alias("en"),
    )
    return (
        _islands(ev, ["user_id"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("e2") - F.col("st")).alias("covered_us"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_islands").cast("long").alias("n_islands"),
            F.col("covered_us").cast("long").alias("covered_us"),
        )
        .orderBy("user_id")
    )


# --- Pareto frontier (skyline) ----------------------------------------------

_PARETO_ORACLE = """
WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
                      min(o_totalprice) AS best_price
               FROM orders GROUP BY 1)
SELECT a.day AS day, a.best_price AS best_price
FROM daily a
WHERE NOT EXISTS (SELECT 1 FROM daily b
                  WHERE b.day > a.day AND b.best_price <= a.best_price)
ORDER BY day
"""


@register(
    "q_pareto_frontier_days",
    oracle=_PARETO_ORACLE,
    tags=("skyline", "window", "order-theory"),
)
def q_pareto_frontier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of days on (recency maximized, best order price
    minimized): a day survives iff NO later day offers an equal-or-
    lower minimum price — the classic Pareto-frontier / skyline query.

    The oracle states the DEFINITION (NOT EXISTS dominance); the Spark
    plan computes it in O(n log n): sort days descending, keep a day
    iff its price is strictly below the running min of all later days.
    The two are equivalent because dominance here is a total-order
    scan: any dominating day IS a later day with price <= mine.

    100 TB: the single-partition window never sees row-scale data —
    the lossless reduction to (day, min price) runs FIRST as an
    ordinary partial-aggregated groupBy (only a day's cheapest order
    can be on the frontier), leaving a calendar-bounded series
    (thousands of rows regardless of corpus size). Same shape for a
    per-segment skyline: partition the window by segment.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(F.min("o_totalprice").alias("best_price"))
    )
    later = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        daily.withColumn("later_min", F.min("best_price").over(later))
        .filter(
            F.col("later_min").isNull()
            | (F.col("best_price") < F.col("later_min"))
        )
        .select("day", "best_price")
        .orderBy("day")
    )


# --- exact weighted median ---------------------------------------------------

_WMEDIAN_ORACLE = """
WITH pw AS (SELECT l_returnflag AS flag, l_extendedprice AS price,
                   sum(l_quantity) AS w
            FROM lineitem GROUP BY 1, 2),
c AS (SELECT flag, price, w,
             sum(w) OVER (PARTITION BY flag ORDER BY price
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM pw)
SELECT flag AS l_returnflag, min(price) AS w_median_price,
       CAST(min(tw) AS DOUBLE) AS total_weight
FROM c WHERE 2 * cw >= tw GROUP BY flag ORDER BY l_returnflag
"""


@register(
    "q_weighted_median_price",
    oracle=_WMEDIAN_ORACLE,
    tags=("statistics", "order-statistic", "window"),
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the
    smallest price whose cumulative quantity weight reaches half the
    group total — an EXACT weighted order statistic (the unweighted
    percentile suite and the approximate quantile sketch don't cover
    weights).

    Selection, not interpolation: the answer is an element of the data
    (one price value both engines pick identically), and the crossing
    test ``2*cw >= tw`` is integer-free-drift — quantities are
    integral, so every cumulative sum is exact in a double.

    100 TB: weights pre-aggregate per (flag, price) — a partial-agg
    groupBy — before any window, so the per-flag cumulative window
    scans distinct prices, not rows. Unbounded distinct prices would
    switch to the mergeable quantile sketch
    (``q_quantile_sketch_rollup``); this is the exact path.
    """
    pw = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
        )
        .agg(F.sum("l_quantity").alias("w"))
    )
    flag_w = Window.partitionBy("flag")
    cum = flag_w.orderBy("price").rowsBetween(Window.unboundedPreceding, 0)
    return (
        pw.withColumn("cw", F.sum("w").over(cum))
        .withColumn("tw", F.sum("w").over(flag_w))
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price").alias("w_median_price"),
            F.min("tw").cast("double").alias("total_weight"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "w_median_price",
            "total_weight",
        )
        .orderBy("l_returnflag")
    )


# --- hierarchy closure by pointer doubling ----------------------------------

_HIER_ORACLE = f"""
WITH RECURSIVE walk AS (
  SELECT s_suppkey AS node, s_suppkey AS root, 0 AS depth, s_acctbal AS bal
  FROM supplier WHERE s_suppkey < {HIER_ROOTS}
  UNION ALL
  SELECT s.s_suppkey, w.root, w.depth + 1, s.s_acctbal
  FROM supplier s JOIN walk w ON (s.s_suppkey - {HIER_ROOTS}) // 2 = w.node
  WHERE s.s_suppkey >= {HIER_ROOTS}
)
SELECT CAST(root AS BIGINT) AS root,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(max(depth) AS BIGINT) AS max_depth,
       sum(CAST(round(bal * 100) AS BIGINT)) / 100.0 AS acctbal_total
FROM walk GROUP BY root ORDER BY root
"""


@register(
    "q_hierarchy_rollup",
    oracle=_HIER_ORACLE,
    tags=("iterative", "graph", "recursive-cte"),
)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll a parent-pointer hierarchy up to its roots: per-root node
    count, max depth, and account-balance total over a synthetic
    supplier forest (roots 0..4; parent(k) = (k-5) div 2 — a 5-tree
    heap shape with log₂-bounded depth).

    Spark has no recursive CTE, and the naive translation — one join
    per LEVEL — is O(depth) shuffles. This uses POINTER DOUBLING
    instead: iterate ``anc ← anc(anc)``, accumulating hop counts, so
    round i resolves ancestors 2^i hops up; roots self-loop at
    distance 0, making convergence absorbing. Each row carries
    ``anc_is_root``: true on a root's own row, then the flag of the hop
    row it joins, so it is true exactly when ``anc`` is a root that
    exists. Rounds run through until_settled and stop once every row's
    flag is true; a forest deeper than 2^HIER_ROUNDS - 1 = 255 raises
    RuntimeError instead of returning wrong roots. The DuckDB oracle is
    a genuine ``WITH RECURSIVE`` — the definition, independent of the
    doubling.

    100 TB: each round shuffles only (node, anc, d, flag) tuples —
    never payload — and each round's checkpoint truncates the
    self-referencing lineage that would otherwise double the plan per
    round. Balances total in integral cents, one division at the end.
    """
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("cents"),
    )
    is_root = F.col("node") < HIER_ROOTS

    def double(anc: DataFrame) -> DataFrame:
        hop = anc.select(
            F.col("node").alias("j_node"),
            F.col("anc").alias("j_anc"),
            F.col("d").alias("j_d"),
            F.col("anc_is_root").alias("j_is_root"),
        )
        return anc.join(hop, anc.anc == hop.j_node).select(
            "node",
            F.col("j_anc").alias("anc"),
            (F.col("d") + F.col("j_d")).alias("d"),
            F.col("j_is_root").alias("anc_is_root"),
        )

    anc = until_settled(
        sup.select(
            "node",
            F.when(is_root, F.col("node"))
            .otherwise(
                # integer div: exact at any key magnitude (float / would
                # misround past 2^53)
                F.expr(f"(node - {HIER_ROOTS}) div 2")
            )
            .alias("anc"),
            F.when(is_root, F.lit(0)).otherwise(F.lit(1)).alias("d"),
            is_root.alias("anc_is_root"),
        ),
        double,
        F.count(F.when(~F.col("anc_is_root"), True)),
        HIER_ROUNDS,
        f"q_hierarchy_rollup did not converge in {HIER_ROUNDS} pointer-doubling "
        f"rounds: the hierarchy is deeper than {2 ** HIER_ROUNDS - 1}; raise "
        "HIER_ROUNDS",
    )
    return (
        anc.join(sup, "node")
        .groupBy(F.col("anc").alias("root"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("d").alias("max_depth"),
            (F.sum("cents") / 100.0).alias("acctbal_total"),
        )
        .select(
            F.col("root").cast("long").alias("root"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("max_depth").cast("long").alias("max_depth"),
            "acctbal_total",
        )
        .orderBy("root")
    )


# --- interval-overlap join (sessions × error bursts) ------------------------

OVERLAP_CELL_US = 3_600_000_000  # 1-hour grid cells for the bucketed join

_OVERLAP_ORACLE = f"""
WITH {_USER_ISLANDS_CTE},
be AS (SELECT epoch_us(ts) AS s, epoch_us(ts) + {IDLE_GAP_US} AS en
       FROM events WHERE event_type = 'error'),
burst AS (SELECT isl AS bid, st AS bs, e2 AS b2
          FROM {_islands_sql("be", [])} b),
hits AS (
    SELECT s.user_id, s.isl,
           sum(least(s.e2, b.b2) - greatest(s.st, b.bs)) AS ov_us
    FROM i s JOIN burst b
      ON s.st < b.b2 AND b.bs < s.e2
    GROUP BY 1, 2
)
SELECT CAST(s.user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN h.isl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit_sessions,
       CAST(coalesce(sum(h.ov_us), 0) AS BIGINT) AS overlap_us
FROM i s LEFT JOIN hits h
  ON h.user_id = s.user_id AND h.isl = s.isl
GROUP BY s.user_id
"""


@register(
    "q_interval_overlap_sessions_bursts",
    oracle=_OVERLAP_ORACLE,
    tags=("join", "intervals", "overlap", "events"),
)
def q_interval_overlap_sessions_bursts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval × interval OVERLAP join: which user activity sessions
    overlap a global error burst, and for how long — the incident-
    impact question ("whose sessions were exposed to the outage?")
    that a point-in-interval range join cannot answer. Both interval
    sets derive from the same tested gaps-and-islands merge
    (``_islands``): per-user activity islands, and GLOBAL bursts from
    error events only (the global window sorts |error events| rows —
    rate-bounded, not corpus-bounded; shard by coarse time first if
    errors themselves reach data scale).

    The join itself is the scalable part: instead of the naive
    inequality join (a nested-loop over |sessions|×|bursts|), each
    interval explodes into its 1-hour grid cells and the pair stream
    is an EQUI-join on cell id with the exact overlap predicate as a
    post-filter, deduped per (session, burst) — shuffle keys are
    (cell, id) ints, volume Σ⌈duration/1h⌉. The oracle states the
    definitional inequality join; this plan is the same relation,
    bucketed. All arithmetic integral micros; overlap length
    Σ(min(end)−max(start)) in exact BIGINTs.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(IDLE_GAP_US)).alias("en"),
    )
    sess = _islands(ev, ["user_id"])
    bursts = _islands(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(IDLE_GAP_US)).alias("en"),
        ),
        [],
    ).select(F.col("isl").alias("bid"), F.col("st").alias("bs"), F.col("e2").alias("b2"))

    cell = lambda lo, hi: F.explode(  # noqa: E731
        F.sequence(
            F.floor(F.col(lo) / F.lit(OVERLAP_CELL_US)),
            F.floor((F.col(hi) - 1) / F.lit(OVERLAP_CELL_US)),
        )
    ).alias("cell")
    s_cells = sess.select("user_id", "isl", "st", "e2", cell("st", "e2"))
    b_cells = bursts.select("bid", "bs", "b2", cell("bs", "b2"))
    hits = (
        s_cells.join(b_cells, "cell")
        .filter((F.col("st") < F.col("b2")) & (F.col("bs") < F.col("e2")))
        .select("user_id", "isl", "st", "e2", "bid", "bs", "b2")
        .distinct()
        .groupBy("user_id", "isl")
        .agg(
            F.sum(
                F.least("e2", "b2") - F.greatest("st", "bs")
            ).alias("ov_us")
        )
    )
    return (
        sess.join(hits, ["user_id", "isl"], "left")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.col("ov_us").isNotNull().cast("int"))
            .cast("long")
            .alias("n_hit_sessions"),
            F.coalesce(F.sum("ov_us"), F.lit(0))
            .cast("long")
            .alias("overlap_us"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_sessions",
            "n_hit_sessions",
            "overlap_us",
        )
    )


# --- dedup threshold tuning curve -------------------------------------------

#: the thresholds swept — all ≥ SETSIM_T, so every curve point derives
#: from the ONE exact pair set the prefix join already computes
DEDUP_TAUS = ("0.5", "0.6", "0.7", "0.8", "0.9")

_TAU_GRID = " UNION ALL ".join(
    f"SELECT CAST({t} AS DOUBLE) AS tau" for t in DEDUP_TAUS
)

_DEDUP_CURVE_ORACLE = f"""
WITH pairs AS ({_SETSIM_ORACLE.replace("ORDER BY doc_id_1, doc_id_2", "")}),
taus AS ({_TAU_GRID}),
ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
hits AS (
    SELECT t.tau, p.doc_id_1, p.doc_id_2
    FROM taus t JOIN pairs p ON p.jaccard >= t.tau
),
agg AS (
    SELECT tau,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT doc_id_2) AS BIGINT) AS n_removed_greedy
    FROM hits GROUP BY tau
),
aff AS (
    SELECT tau, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
    FROM (SELECT tau, doc_id_1 AS d FROM hits
          UNION ALL SELECT tau, doc_id_2 FROM hits) u
    GROUP BY tau
)
SELECT t.tau AS threshold,
       COALESCE(agg.n_pairs, 0) AS n_pairs,
       COALESCE(aff.n_docs_affected, 0) AS n_docs_affected,
       COALESCE(agg.n_removed_greedy, 0) AS n_removed_greedy,
       CAST(COALESCE(agg.n_removed_greedy, 0) AS DOUBLE) / ndocs.n_docs
         AS removed_share
FROM taus t
LEFT JOIN agg ON agg.tau = t.tau
LEFT JOIN aff ON aff.tau = t.tau
CROSS JOIN ndocs
ORDER BY threshold
"""


@register(
    "q_dedup_threshold_curve",
    oracle=_DEDUP_CURVE_ORACLE,
    tags=("dedup", "tuning", "jaccard", "curve", "training-data"),
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup THRESHOLD tuning curve — the Jaccard sibling of the
    IVF nprobe curve: for each τ in DEDUP_TAUS, how many exact
    shingle-Jaccard pairs survive, how many documents they touch, and
    how many docs the greedy keep-smallest-id rule would remove (with
    its corpus share) — the measured aggressiveness/coverage frontier
    behind picking a near-dup threshold. Every point derives from the
    ONE exact pair set the PPJoin prefix join computes at the base
    threshold (τ ≥ SETSIM_T pairs are a subset by monotonicity), so
    the sweep costs one small grid join, not five pair computations.
    Counts are exact BIGINTs; `removed_share` is one division;
    Jaccards are bit-identical across engines by the prefix join's own
    contract.

    100 TB: inherits the prefix join's scale shape (shuffles carry id
    + token hashes, quadratic bounded to rarest-first prefix buckets);
    the sweep itself runs on the pair set × a 5-row constant."""
    pairs = q_setsim_prefix_join(spark, sf_dir).transform(eager_checkpoint)
    taus = spark.createDataFrame(
        [(float(t),) for t in DEDUP_TAUS], "tau double"
    )
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    hits = F.broadcast(taus).join(
        pairs, F.col("jaccard") >= F.col("tau")
    )
    agg = hits.groupBy("tau").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count_distinct("doc_id_2").cast("long").alias("n_removed_greedy"),
    )
    aff = (
        hits.select("tau", F.col("doc_id_1").alias("d"))
        .unionByName(hits.select("tau", F.col("doc_id_2").alias("d")))
        .groupBy("tau")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_affected"))
    )
    return (
        F.broadcast(taus)
        .join(agg, "tau", "left")
        .join(aff, "tau", "left")
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "tau AS threshold",
            "COALESCE(n_pairs, 0) AS n_pairs",
            "COALESCE(n_docs_affected, 0) AS n_docs_affected",
            "COALESCE(n_removed_greedy, 0) AS n_removed_greedy",
            "CAST(COALESCE(n_removed_greedy, 0) AS DOUBLE) / n_docs"
            " AS removed_share",
        )
        .orderBy("threshold")
    )
