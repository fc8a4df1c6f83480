"""Sketch-based operators: bounded-memory heavy hitters, mergeable
HyperLogLog rollup tables (a portable deterministic register form),
and Bloom-filter join pruning.

These are the patterns a 100 TB pipeline reaches for when the KEY
SPACE itself is too large to shuffle, broadcast, or hold exactly:

- **Heavy hitters (two-pass candidate/verify)**: a full
  ``groupBy(key).count()`` shuffles one record per distinct key — fine
  for a vocabulary, fatal for a web-scale token/URL/user space. Pass 1
  builds a truncated per-partition summary (top-C keys + an error
  bound) in one map-only Arrow pass; merging the tiny summaries yields
  a provable UPPER bound on every key's global count, so keys whose
  upper bound clears the threshold form a small candidate superset
  that is guaranteed to contain every true heavy hitter. Pass 2
  re-scans with a broadcast semi-join on the candidates and counts
  them EXACTLY — so the final answer is exact and oracle-checkable,
  while the shuffle never carries more than |candidates| keys.
  (The in-flight per-partition dict is itself bounded — lossy-counting
  pruning caps it at a fixed working size and folds the pruning loss
  into the (cnt, err) upper bounds — so a partition whose distinct set
  exceeds memory degrades the bound's tightness, never correctness or
  memory safety. At fixture scale the cap is never hit and the summary
  is exact-then-truncate, the tightest bound.)

- **HLL sketch rollup**: ``det_hll_registers`` builds a fixed-size
  HyperLogLog register table per group that is *mergeable*: the
  max-merge of the registers of A and B equals the registers of
  A ∪ B exactly, so the estimate of a union is bit-identical to the
  estimate of a direct sketch. Persist per-(day, dim) registers once,
  then answer any coarser rollup (per-month, per-dim, grand total) by
  ``det_hll_merge`` over the register table — no re-scan of raw data,
  ever. This is the incremental-analytics pattern: each new ingest
  batch appends its registers and every historical rollup stays
  queryable at sketch cost.

The reference has no aggregation layer at all (SURVEY §2.5 — verified
absent, reference app.py:1-206); both operators are north-star
extensions sized for the 100 TB target.

`q_join_size_estimate_cms` estimates a self-join's size from Count-Min
sketch inner products without executing the join: the optimizer-side
cardinality-estimation use of the same sketch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# heavy hitters: truncated per-partition summaries → candidate superset →
# exact verify pass
# ---------------------------------------------------------------------------

SUMMARY_SCHEMA = "key string, cnt long, part_total long, part_err long, pid int"


def partition_summaries(keys: DataFrame, capacity: int) -> DataFrame:
    """Per-partition truncated count summaries of ``keys`` (single
    string column named ``key``).

    Each output row is one of the partition's top-``capacity`` keys by
    exact in-partition count, annotated with:

    - ``part_total``: the partition's total row count (exact),
    - ``part_err``: the (capacity+1)-th count — an upper bound on the
      in-partition count of any key ABSENT from this summary (0 when
      the partition has ≤ capacity distinct keys),
    - ``pid``: the physical partition id, so per-partition constants
      can be recovered with a distinct-on-pid aggregate.

    One Arrow-batched map pass, no shuffle; output size is at most
    ``capacity × num_partitions`` rows regardless of key cardinality.
    """

    # Bounded working set (lossy counting): the in-flight dict is
    # pruned to WORK_FACTOR×capacity entries whenever it doubles past
    # that, recording delta = the largest count ever pruned. A pruned
    # key that reappears restarts from 0 having missed ≤ delta
    # occurrences, so cnt+delta upper-bounds every kept key and delta
    # upper-bounds every absent key — exactly the bounds
    # heavy_hitter_candidates' superset formula needs. Without the cap,
    # working memory would be O(per-partition distinct keys): an OOM on
    # the web-scale vocabularies this operator exists for. At fixture
    # scale the cap is never hit and the summary is the exact
    # truncated-top form.
    WORK_FACTOR = 64
    work_cap = max(capacity * WORK_FACTOR, 4096)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        pid = -1
        total = 0
        delta = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["pid"].iloc[0])
            total += len(pdf)
            for k, c in pdf["key"].value_counts().items():
                counts[k] = counts.get(k, 0) + int(c)
            if len(counts) > 2 * work_cap:
                top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                delta = max(delta, top[work_cap][1])
                counts = dict(top[:work_cap])
        if not counts:
            return
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = top[:capacity]
        err = top[capacity][1] if len(top) > capacity else 0
        yield pd.DataFrame(
            {
                "key": [k for k, _ in kept],
                # + delta: upper bound on the true in-partition count
                # (occurrences possibly lost to pruning); 0 when the
                # working cap was never hit, i.e. exact
                "cnt": [c + delta for _, c in kept],
                "part_total": total,
                "part_err": err + delta,
                "pid": pid,
            }
        )

    return keys.withColumn("pid", F.spark_partition_id()).mapInPandas(
        summarize, SUMMARY_SCHEMA
    )


def heavy_hitter_candidates(summaries: DataFrame, min_share: float) -> DataFrame:
    """Keys whose global-count UPPER BOUND reaches ``min_share`` of the
    total row count — a guaranteed superset of the true heavy hitters.

    For key k: true_count(k) = Σ_p count_p(k). In partitions where k
    appears in the summary, count_p(k) is exact; where it is absent,
    count_p(k) ≤ part_err_p. Hence

        true_count(k) ≤ Σ_present cnt + (TOTAL_ERR − Σ_present part_err)

    with TOTAL_ERR = Σ_p part_err_p. Both Σ_p constants come from a
    distinct-on-pid aggregate of the (tiny) summary table itself, so no
    extra scan of the raw data is needed.
    """
    per_part = summaries.select("pid", "part_total", "part_err").distinct()
    totals = per_part.agg(
        F.sum("part_total").alias("n_total"),
        F.sum("part_err").alias("total_err"),
    )
    return (
        summaries.groupBy("key")
        .agg(
            F.sum("cnt").alias("present_cnt"),
            F.sum("part_err").alias("present_err"),
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "upper_bound",
            F.col("present_cnt") + (F.col("total_err") - F.col("present_err")),
        )
        .filter(F.col("upper_bound") >= F.col("n_total") * F.lit(min_share))
        .select("key", "upper_bound", "n_total")
    )


def safe_capacity(min_share: float) -> int:
    """Smallest summary capacity for which the candidate set is a
    guaranteed superset of the true heavy hitters.

    With capacity C, the (C+1)-th in-partition count satisfies
    err_p ≤ n_p/(C+1), so TOTAL_ERR ≤ n/(C+1). With C ≥ 1/min_share
    that is strictly below the threshold n·min_share — hence every true
    heavy hitter must surface in at least one summary (a key absent
    from ALL summaries has true count ≤ TOTAL_ERR < threshold).
    Below this floor the guarantee genuinely fails: a key trimmed from
    every partition's top-C can still hold min_share of the total.
    """
    import math

    return math.ceil(1.0 / min_share)


def exact_heavy_hitters(
    keys: DataFrame, min_share: float, capacity: int = 64
) -> DataFrame:
    """Keys with exact global count ≥ min_share × total, computed
    without ever shuffling the full key space.

    Pass 1 (map-only): truncated per-partition summaries → candidate
    superset (provably contains every true heavy hitter — ``capacity``
    is floored at ``safe_capacity(min_share)``, the bound that makes
    the superset claim hold). Pass 2: broadcast-semi-join the
    candidates onto the raw keys and count exactly; the shuffle carries
    only candidate keys. Returns (key, cnt, share) — exact values, so
    the result is independent of ``capacity`` and oracle-checkable
    against plain GROUP BY/HAVING.
    """
    summaries = partition_summaries(keys, max(capacity, safe_capacity(min_share)))
    # Materialize the candidate superset ONCE to driver-side literals
    # (bounded: ≤ capacity × partitions keys, and in practice the
    # handful of near-hitters). Leaving it lazy makes pass 2's two
    # broadcast subtrees and the totals join each re-derive the
    # summaries, re-scanning the raw input — measured 4 full passes
    # instead of the advertised 2. A driver collect of a bounded tiny
    # set is the same discipline as the k-means centroid fetch.
    cand_rows = heavy_hitter_candidates(summaries, min_share).collect()
    if not cand_rows:
        return (
            keys.limit(0)
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select("key", "cnt", (F.col("cnt") * 0.0).alias("share"))
        )
    cand_keys = [r["key"] for r in cand_rows]
    n_total = int(cand_rows[0]["n_total"])
    return (
        keys.filter(F.col("key").isin(cand_keys))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(n_total) * F.lit(min_share))
        .select(
            "key",
            "cnt",
            (F.col("cnt") / F.lit(n_total).cast("double")).alias("share"),
        )
    )


@register(
    "q_heavy_hitter_words",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS key
        FROM documents WHERE trim(text) <> ''
    ),
    n AS (SELECT count(*) AS n_total FROM words)
    SELECT key,
           CAST(count(*) AS BIGINT)        AS cnt,
           count(*) * 1.0 / max(n.n_total) AS share
    FROM words CROSS JOIN n
    GROUP BY key
    HAVING count(*) >= max(n.n_total) * 0.005
    """,
    tags=("sketch", "heavy-hitters", "text"),
)
def q_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens holding ≥0.5% of the corpus token mass, via the two-pass
    candidate/verify heavy-hitter operator (see module docstring).

    The result is EXACT (pass 2 recounts candidates), which is what
    makes a DuckDB GROUP BY/HAVING oracle possible for a sketch-backed
    plan. At 100 TB the win is that neither pass shuffles the
    vocabulary: pass 1 is map-only, pass 2 shuffles only the handful
    of candidate tokens.
    """
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.trim(F.col("text")).alias("t"))
        .filter(F.col("t") != "")
        .select(F.explode(F.split("t", r"\s+")).alias("key"))
    )
    return exact_heavy_hitters(words, min_share=0.005, capacity=64)


# ---------------------------------------------------------------------------
# deterministic portable HLL: md5-derived registers in an exploded
# (group, idx, reg) table — every step is plain relational algebra, so
# ANY engine replays it bit-for-bit
# ---------------------------------------------------------------------------
#
# Why registers as rows: an engine-native sketch (an opaque binary
# register layout) is engine-SPECIFIC, so no cross-engine oracle can
# check it. This form fixes the hash (md5 → 60-bit int: low p bits
# pick the register, the leading-zero count of the remaining 48 bits
# is the rank) and stores registers as ROWS. All three sketch
# operations are then vanilla SQL — build = GROUP BY max(rho), merge =
# GROUP BY max(reg) (max is associative ⇒ rollups compose exactly),
# estimate = one aggregate over ≤ m rows per group — which makes the
# whole pipeline hash-verifiable against DuckDB and portable across
# warehouses (the "HLL in pure SQL" interop pattern). Cost: ~9
# bytes/register-row vs 1 byte/register packed; at p=12 that is ≤ 36
# KB per persisted cell, still thousands of times smaller than
# re-scanning raw data at 100 TB.

DET_HLL_P = 12
DET_HLL_M = 1 << DET_HLL_P  # 4096 registers
_DET_HLL_MAX_RHO = 60 - DET_HLL_P + 1  # 49: empty 48-bit suffix
_DET_HLL_POW = float(1 << (_DET_HLL_MAX_RHO + 1))  # 2^-reg scale factor
_DET_HLL_ALPHA_MM = 0.7213 / (1.0 + 1.079 / DET_HLL_M) * DET_HLL_M * DET_HLL_M


def det_hll_registers(
    df: DataFrame, group_cols: list[str], distinct_col: str
) -> DataFrame:
    """Build the exploded-register sketch table: one row per occupied
    register per ``group_cols`` cell, carrying ``reg`` (max rank seen)
    and ``n_rows`` (exact cell row count). Map-side combinable; the
    shuffle carries ≤ m rows per cell regardless of cardinality."""
    h60 = F.conv(
        F.substring(F.md5(F.col(distinct_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rest = F.shiftright(F.col("h60"), DET_HLL_P)
    rho = F.when(rest == F.lit(0), F.lit(_DET_HLL_MAX_RHO)).otherwise(
        F.lit(_DET_HLL_MAX_RHO) - F.length(F.bin(rest))
    )
    return (
        df.select(*group_cols, h60.alias("h60"))
        .select(
            *group_cols,
            F.col("h60").bitwiseAND(F.lit(DET_HLL_M - 1)).alias("idx"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("reg"), F.count(F.lit(1)).alias("n_rows"))
    )


def det_hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll a register table up to coarser ``group_cols``: max per
    register is EXACTLY the HLL union (estimates identical to sketching
    the raw union), row counts sum. Input and output share a schema, so
    rollups compose (day → month → year)."""
    return registers.groupBy(*group_cols, "idx").agg(
        F.max("reg").alias("reg"), F.sum("n_rows").alias("n_rows")
    )


def det_hll_estimate(
    registers: DataFrame, group_cols: list[str], est_col: str = "n_distinct_est"
) -> DataFrame:
    """Standard HLL estimator over the register table: harmonic mean of
    2^-reg with linear-counting small-range correction. The register
    sum is kept in exact BIGINT arithmetic (2^(50-reg) per row) so both
    engines see identical values; only the final division/log are
    floats (IEEE-identical given identical inputs)."""
    agg = registers.groupBy(*group_cols).agg(
        F.expr(
            f"sum(shiftleft(CAST(1 AS BIGINT), {_DET_HLL_MAX_RHO + 1} - reg))"
        ).alias("s_int"),
        F.count(F.lit(1)).alias("present"),
        F.sum("n_rows").alias("n_rows"),
    )
    zeros = F.lit(DET_HLL_M) - F.col("present")
    raw = F.lit(_DET_HLL_ALPHA_MM) / (F.col("s_int") / F.lit(_DET_HLL_POW) + zeros)
    est = F.when(
        (raw <= F.lit(2.5 * DET_HLL_M)) & (zeros > F.lit(0)),
        F.lit(float(DET_HLL_M)) * F.log(F.lit(float(DET_HLL_M)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, est.alias(est_col), "n_rows")


def det_hll_h60_sql(v: str = "v") -> str:
    """DuckDB twin of the 60-bit md5 hash in det_hll_registers."""
    return f"CAST('0x' || substr(md5({v}), 1, 15) AS BIGINT)"


def det_hll_reg_sql() -> str:
    """DuckDB twin of the register rank (max rho per idx) aggregate,
    over a relation exposing ``h60``."""
    m, p, maxr = DET_HLL_M, DET_HLL_P, _DET_HLL_MAX_RHO
    return (
        f"h60 & {m - 1} AS idx, "
        f"max(CASE WHEN h60 >> {p} = 0 THEN {maxr} "
        f"ELSE {maxr} - length(bin(h60 >> {p})) END) AS reg"
    )


def det_hll_sint_sql() -> str:
    """DuckDB twin of the exact-integer register sum feeding the
    estimator, over a relation exposing ``reg``."""
    return (
        f"CAST(sum(CAST(1 AS BIGINT) << ({_DET_HLL_MAX_RHO + 1} - reg))"
        " AS BIGINT) AS s_int, count(*) AS present"
    )


def det_hll_est_case_sql() -> str:
    """DuckDB twin of det_hll_estimate's harmonic-mean + linear-counting
    CASE, over a relation exposing ``s_int`` and ``present``. ONE
    definition shared by every HLL oracle (rollup, set operations) so
    estimator changes can never leave a private copy stale."""
    m = DET_HLL_M
    raw = f"{_DET_HLL_ALPHA_MM!r} / (s_int / {_DET_HLL_POW!r} + ({m} - present))"
    return (
        f"CASE WHEN {raw} <= {2.5 * DET_HLL_M!r} AND present < {m}"
        f" THEN {float(DET_HLL_M)!r} * ln({float(DET_HLL_M)!r} / ({m} - present))"
        f" ELSE {raw} END"
    )


def det_hll_oracle(source_sql: str, group_cols: list[str], est_alias: str) -> str:
    """DuckDB replay of registers→merge→estimate over ``source_sql``,
    which must yield ``group_cols`` plus ``v`` (the key as VARCHAR).
    Because merge is an associative max, building registers at the
    finest grain and rolling up equals grouping directly — so one CTE
    chain oracles any rollup depth."""
    gc = ", ".join(group_cols)
    return f"""
    WITH src AS ({source_sql}),
    h AS (
        SELECT {gc}, {det_hll_h60_sql("v")} AS h60
        FROM src
    ),
    regs AS (
        SELECT {gc}, {det_hll_reg_sql()},
               count(*) AS cnt
        FROM h GROUP BY {gc}, idx
    ),
    agg AS (
        SELECT {gc},
               {det_hll_sint_sql()},
               CAST(sum(cnt) AS BIGINT) AS n_rows
        FROM regs GROUP BY {gc}
    )
    SELECT {gc},
           {det_hll_est_case_sql()} AS {est_alias},
           n_rows
    FROM agg
    """


@register(
    "q_sketch_rollup_customers",
    oracle=det_hll_oracle(
        "SELECT o_orderpriority AS priority, CAST(o_custkey AS VARCHAR) AS v"
        " FROM orders",
        ["priority"],
        "n_distinct_est",
    ),
    tags=("sketch", "hll", "rollup"),
)
def q_sketch_rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ordering customers per priority, answered from a
    (day, priority)-grained register-table HLL sketch by max-merge —
    the incremental pattern: the daily table is what a 100 TB pipeline
    persists per ingest batch, and every coarser rollup (this one
    collapses ~2400 days) reads only sketches. Uses the deterministic
    portable HLL so the whole sketch→merge→estimate path hash-matches
    the DuckDB oracle."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.col("o_orderpriority").alias("priority"),
        "o_custkey",
    )
    daily = det_hll_registers(orders, ["day", "priority"], "o_custkey")
    per_priority = det_hll_merge(daily, ["priority"])
    return det_hll_estimate(per_priority, ["priority"])


# ---------------------------------------------------------------------------
# deterministic portable Bloom filter: build-side bit set, map-side
# probe, exact verify — runtime-filter join pruning without broadcasting
# the dimension
# ---------------------------------------------------------------------------
#
# The third portable sketch (with the heavy-hitter summaries and the
# register-table HLL above). Scenario it exists for: a fact⋈dim semi
# join where the DIM side is too big to broadcast-hash-join but its
# Bloom filter is not (1 bit/key vs ~100 bytes/row ⇒ a 10^9-key dim is
# a ~1 GB hash table but a ~170 MB bloom at 1% fp). Probing the bloom
# map-side prunes the fact scan BEFORE the join shuffle, so the
# Exchange carries only (matches + fp-rate × non-matches) rows; the
# exact verify join then removes the false positives, making the final
# answer EXACT — which is what lets a plain IN-subquery oracle check a
# sketch-pruned plan (same two-pass trick as exact_heavy_hitters).
# Spark's own runtime row-group filtering (InSubqueryExec/DPP) covers
# the partition-column case; this operator is the arbitrary-key form,
# with md5-derived hashes so any engine replays it.

BLOOM_M = 1 << 15  # bits in the filter
BLOOM_K = 4  # hash functions; fp ≈ (1 - e^(-k·n/m))^k


def _bloom_bit(key, i: int, m: int):
    """i-th bit position of ``key``: md5 over a salted rendering, low
    bits. One md5 per (key, i) — same universal-hash recipe as the
    MinHash and sign-LSH operators."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), key.cast("string"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .bitwiseAND(F.lit(m - 1))
    )


def bloom_bits(
    keys: DataFrame, key_col: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Build side: the distinct set bits of the filter, as rows
    (column ``bit``) — ≤ m rows however many keys went in. The exploded
    form is what makes the filter portable (any engine materializes the
    same set) and incrementally maintainable (new keys UNION in; the
    bit set only grows)."""
    positions = F.array(*[_bloom_bit(F.col(key_col), i, m) for i in range(k)])
    return keys.select(F.explode(positions).alias("bit")).distinct()


def bloom_prune(
    facts: DataFrame,
    key_col: str,
    bits: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Map-side probe: keep fact rows whose k bit positions are ALL
    set. k chained broadcast left-semi joins — one codegen stage, no
    Exchange of the fact side; survivors are the true matches plus the
    fp-rate share of the rest. NOT exact alone: follow with an exact
    verify join (see q_bloom_prune_join)."""
    out = facts
    for i in range(k):
        out = out.join(
            F.broadcast(bits.select(F.col("bit").alias(f"_b{i}"))),
            _bloom_bit(F.col(key_col), i, m) == F.col(f"_b{i}"),
            "left_semi",
        )
    return out


@register(
    "q_bloom_prune_join",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(o_totalprice)        AS revenue
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY o_orderpriority
    """,
    tags=("sketch", "bloom", "join", "runtime-filter"),
)
def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order count/revenue per priority for BUILDING-segment customers,
    computed through a Bloom-pruned semi join: build the segment's bit
    set, prune orders map-side, then exact-verify the survivors. The
    answer is exact (verify pass), so the oracle is the plain
    IN-subquery form. At fixture scale the dim would broadcast anyway —
    the verify join is hinted sort-merge to pin the plan this pattern
    exists for: a dim too big to broadcast, an Exchange that carries
    only bloom survivors instead of the whole fact table.
    """
    seg = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    pruned = bloom_prune(orders, "o_custkey", bloom_bits(seg, "c_custkey"))
    exact = pruned.join(
        seg.hint("merge").withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
        "left_semi",
    )
    return exact.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# deterministic bottom-k quantile sketch: mergeable uniform sample by
# md5 priority — approximate quantiles with the same persist/merge
# contract as the HLL rollup
# ---------------------------------------------------------------------------
#
# Fourth portable sketch (distinct → HLL, membership → Bloom, frequency
# → heavy hitters, rank → this). A bottom-k sample — the k rows with
# the SMALLEST md5-derived priorities — is a uniform random sample
# without replacement whose merge is exact: bottom-k of a union equals
# bottom-k of the merged bottom-ks, so per-day sketch tables roll up
# losslessly to any coarser grain (same associative-merge argument as
# the HLL register max). Priorities are md5(row id), so any engine
# draws the SAME sample — the whole sketch→merge→estimate path is
# deterministic and oracle-checkable, unlike t-digest/KLL whose merge
# is implementation-defined.

BOTTOMK_K = 128


def _priority(id_col):
    """Uniform 52-bit priority from the unique row id (13 md5 hex
    digits — int64-safe, same recipe as the weighted sampler)."""
    return F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
    ).cast("long")


def bottomk_sketch(
    df: DataFrame, group_col: str, value_col: str, id_col: str, k: int = BOTTOMK_K
) -> DataFrame:
    """Per-``group_col`` bottom-k sample of ``value_col``: columns
    (cell, pri, val), ≤ k rows per cell.

    Two-phase, like the heavy-hitter summaries: an Arrow map pass trims
    each physical partition to its local bottom-k per cell (bounded
    memory, no shuffle, output ≤ k × cells × partitions), then one
    window pass over the tiny survivor set takes the exact global
    bottom-k. The refinement is exact — local bottom-k can never evict
    a global bottom-k row — so the result is independent of
    partitioning, which is what the cross-engine oracle replays.
    """
    slim = df.select(
        F.col(group_col).cast("string").alias("cell"),
        F.col(value_col).cast("double").alias("val"),
        _priority(id_col).alias("pri"),
    )

    # One VECTORIZED sort+groupby-head per Arrow batch — never a pandas
    # op per cell. (The first cut kept a per-cell DataFrame dict with
    # concat+nsmallest per batch: ~1 ms × |cells| per batch, 22 s at
    # sf0.01 for the ~12k day×priority cells. Same exact semantics —
    # local bottom-k per cell by (pri, val) — at ~ms cost.)
    #
    # Compaction is AMORTIZED-DOUBLING, not fixed-threshold: compact
    # only once the buffer exceeds 2× its size after the previous
    # compaction (floored at _COMPACT_MIN). A fixed cap below the
    # irreducible sketch size (|cells|·k rows — 1.5M at sf1.0's 12k
    # day-cells) degenerates to a full re-sort per batch and went 41×
    # super-linear in the sf0.1→sf1.0 decade; doubling keeps total
    # compaction work O(output · log batches) and peak memory at ~2×
    # the per-partition sketch plus one batch — the sketch itself is
    # the floor no trim strategy can beat.
    _COMPACT_MIN = 500_000  # rows ≈ 12 MB of (cell, val, pri)

    def _keep_bottomk(pdf: pd.DataFrame) -> pd.DataFrame:
        return (
            pdf.sort_values(["pri", "val"], kind="mergesort")
            .groupby("cell", sort=False)
            .head(k)
        )

    def trim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None
        compacted_size = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = _keep_bottomk(pdf)
            buf = pdf if buf is None else pd.concat([buf, pdf])
            if len(buf) > max(_COMPACT_MIN, 2 * compacted_size):
                buf = _keep_bottomk(buf)
                compacted_size = len(buf)
        if buf is not None:
            yield _keep_bottomk(buf)

    local = slim.mapInPandas(trim, "cell string, val double, pri long")
    w = Window.partitionBy("cell").orderBy("pri", "val")
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bottomk_merge(sketches: DataFrame, k: int = BOTTOMK_K) -> DataFrame:
    """Union-merge sketch tables: global bottom-k per cell of the
    union — EXACTLY the sketch of the union (lossless, like the HLL
    register max)."""
    w = Window.partitionBy("cell").orderBy("pri", "val")
    return (
        sketches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bottomk_quantiles(sketches: DataFrame, qs: list[float]) -> DataFrame:
    """Empirical quantiles of each cell's sample: sorted-sample value
    at rank ceil(q·m) (floored at 1). The sample is uniform without
    replacement, so each estimate converges at O(1/√k)."""
    m = sketches.groupBy("cell").agg(F.count(F.lit(1)).alias("m"))
    w = Window.partitionBy("cell").orderBy("val")
    ranked = sketches.withColumn("vr", F.row_number().over(w)).join(m, "cell")
    aggs = [
        F.max(
            F.when(
                F.col("vr")
                == F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("m"))),
                F.col("val"),
            )
        ).alias(f"est_p{int(q * 100)}")
        for q in qs
    ]
    return ranked.groupBy("cell").agg(*aggs)


@register(
    "q_quantile_sketch_rollup",
    oracle=f"""
    WITH pr AS (
        SELECT o_orderpriority AS cell, o_totalprice AS val,
               CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)
                    AS BIGINT) AS pri
        FROM orders
    ),
    samp AS (
        SELECT cell, val FROM (
            SELECT cell, val,
                   row_number() OVER (PARTITION BY cell ORDER BY pri, val) AS rn
            FROM pr
        ) WHERE rn <= {BOTTOMK_K}
    ),
    m AS (SELECT cell, count(*) AS m FROM samp GROUP BY cell),
    ranked AS (
        SELECT s.cell, s.val, m.m,
               row_number() OVER (PARTITION BY s.cell ORDER BY s.val) AS vr
        FROM samp s JOIN m USING (cell)
    ),
    est AS (
        SELECT cell,
               max(CASE WHEN vr = greatest(1, CAST(ceil(0.5 * m) AS BIGINT))
                        THEN val END) AS est_p50,
               max(CASE WHEN vr = greatest(1, CAST(ceil(0.9 * m) AS BIGINT))
                        THEN val END) AS est_p90
        FROM ranked GROUP BY cell
    ),
    n AS (
        SELECT o_orderpriority AS cell, CAST(count(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY 1
    )
    SELECT cell AS priority, est_p50, est_p90, n_rows
    FROM est JOIN n USING (cell)
    """,
    tags=("sketch", "quantile", "rollup"),
)
def q_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median and p90 order value per priority, answered from a
    per-day bottom-k sample sketch table merged to priority grain —
    the quantile analog of q_sketch_rollup_customers: persist daily
    sketches per ingest batch, answer any coarser rollup from ≤ k rows
    per cell without re-reading raw data. Merge is lossless (bottom-k
    of union ≡ bottom-k of merged bottom-ks), so the rollup hash-
    matches the oracle's direct global sample; exact per-cell row
    counts ride a separate partial-agg shuffle of counts only.
    Accuracy vs exact percentiles is bounded in tests/test_sketches.py.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("day"),
    )
    daily = bottomk_sketch(
        orders.withColumn(
            "day_cell", F.concat_ws("|", "day", "o_orderpriority")
        ),
        "day_cell",
        "o_totalprice",
        "o_orderkey",
    )
    merged = bottomk_merge(
        daily.withColumn(
            "cell", F.substring_index(F.col("cell"), "|", -1)
        )
    ).transform(eager_checkpoint)  # ≤ k × |priorities| rows; bottomk_quantiles
    # consumes it twice (count + rank branches) — without this the
    # whole scan + sketch pass runs twice
    est = bottomk_quantiles(merged, [0.5, 0.9])
    n = (
        orders.groupBy(F.col("o_orderpriority").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return est.join(n, "cell").select(
        F.col("cell").alias("priority"), "est_p50", "est_p90", "n_rows"
    )


# --------------------------------------------------------------------------
# CMS join-size estimation

_JS_DEPTH = 4
_JS_WIDTH = 512

_JS_BUCKET_SPARK = (
    "cast(conv(substring(md5(concat(cast(l_partkey AS STRING), '#',"
    " CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT) % " + str(_JS_WIDTH)
)
_JS_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || '#' ||"
    f" CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % {_JS_WIDTH}"
)

_JS_ORACLE = f"""
WITH kc AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_partkey
),
exact AS (
    SELECT CAST(sum(n * n) AS BIGINT) AS exact_join_size FROM kc
),
cells AS (
    SELECT i, {_JS_BUCKET_SQL} AS bucket, CAST(sum(n) AS BIGINT) AS cell
    FROM kc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    GROUP BY i, bucket
),
est AS (
    SELECT CAST(min(ip) AS BIGINT) AS cms_estimate
    FROM (SELECT i, sum(cell * cell) AS ip FROM cells GROUP BY i)
)
SELECT exact_join_size, cms_estimate,
       CAST(cms_estimate - exact_join_size AS BIGINT) AS overcount
FROM exact CROSS JOIN est
"""


@register(
    "q_join_size_estimate_cms",
    oracle=_JS_ORACLE,
    tags=("sketch", "count-min", "cardinality-estimation", "optimizer"),
)
def q_join_size_estimate_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT executing the join: the
    self-join size |lineitem ⋈ lineitem ON l_partkey| = Σ_k n(k)²
    estimated as the minimum over CMS rows of the sketch inner product
    Σ_b cell² (AGMS/Count-Min join-size estimate, Alon-Matias-Szegedy
    F₂ / Cormode-Muthukrishnan §4.2), next to the exact answer. The
    estimate structurally never undercounts — ``overcount ≥ 0`` is
    pinned by the oracle hash.

    Optimizer relevance at 100 TB: a {_JS_DEPTH}×{_JS_WIDTH} integer
    sketch per table (mergeable cell-wise across partitions/shards)
    prices any equi-join before running it — the difference between
    choosing a broadcast and materializing a 10¹² -row blow-up. All
    arithmetic is BIGINT-exact; md5-derived row hashes, no RNG.
    """
    kc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    exact = kc.agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("exact_join_size")
    )
    rows = F.array([F.lit(i) for i in range(_JS_DEPTH)])
    cells = (
        kc.select("l_partkey", "n", F.explode(rows).alias("i"))
        .select("i", F.expr(_JS_BUCKET_SPARK).alias("bucket"), "n")
        .groupBy("i", "bucket")
        .agg(F.sum("n").cast("long").alias("cell"))
    )
    est = (
        cells.groupBy("i")
        .agg(F.sum(F.col("cell") * F.col("cell")).alias("ip"))
        .agg(F.min("ip").cast("long").alias("cms_estimate"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_join_size"))
        .cast("long")
        .alias("overcount"),
    )
