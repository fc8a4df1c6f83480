"""Incremental computation patterns: materialized-aggregate merge and
recurrence-class (EWMA) smoothing.

These cover the two computation shapes a warehouse refresh pipeline
needs beyond one-shot queries (reference app.py runs one full batch per
extract date; at 100 TB you never recompute from scratch):

- **partial-aggregate maintenance**: keep a small per-group partial
  state (sum, count), fold each new batch into it, and derive final
  metrics from the merged state. The merge is associative, so it is
  also exactly what Spark's partial+final hash aggregation does inside
  one query — here it is lifted across *batches*.
- **recurrence**: EWMA_t = α·x_t + (1-α)·EWMA_{t-1} cannot be expressed
  as any commutative aggregate; it is an ordered fold. Per-key state is
  tiny (one double), the input per key is the pre-aggregated daily
  series — never raw facts.

`q_ivm_merge_equivalence` proves the merge: per-batch partial
aggregates re-aggregated equal the from-scratch answer, with money on
an exact BIGINT cent grid so merge order can never drift a ulp.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

#: batches are split by order date: base = history, delta = the
#: "new day's extract" (reference app.py:132 runs one such per date).
INCR_SPLIT = "2000-01-01"

EWMA_ALPHA = 0.3


@register(
    "q_incremental_agg_merge",
    oracle="""
    SELECT
        o_orderpriority,
        CAST(count(*) AS BIGINT)       AS n_orders,
        round(sum(o_totalprice), 2)    AS total_revenue,
        round(sum(o_totalprice), 2) / count(*) AS avg_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("incremental", "agg", "materialized-view"),
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: revenue stats
    per order priority, computed as base-partial ⊕ delta-partial
    instead of a full rescan — then proven equal to the one-pass
    oracle.

    The base batch (orders before INCR_SPLIT) and the delta batch are
    aggregated independently to (sum, count) partials — the mergeable
    state — then merged by summation and finalized. At 100 TB the base
    partial is a tiny stored table (|groups| rows) and each refresh
    aggregates ONLY the delta: cost is O(delta), not O(history).

    Float pinning: the merged sum is rounded to the 2-decimal money
    grid (sum-of-sums association differs from the oracle's one-pass
    sum only in ulps, and the true value is on-grid, so both engines
    snap to the same point); avg divides that pinned sum by the exact
    count, giving a bit-identical quotient.
    """
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit(INCR_SPLIT).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.sum("o_totalprice").alias("p_sum"),
            F.count(F.lit(1)).alias("p_cnt"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < split))
    delta = partial(orders.filter(F.col("o_orderdate") >= split))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("p_sum").alias("m_sum"), F.sum("p_cnt").alias("m_cnt"))
    )
    total = F.round(F.col("m_sum"), 2)
    return merged.select(
        "o_orderpriority",
        F.col("m_cnt").alias("n_orders"),
        total.alias("total_revenue"),
        (total / F.col("m_cnt")).alias("avg_revenue"),
    )


@register(
    "q_ewma_revenue_by_status",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderstatus,
               date_trunc('day', o_orderdate) AS day,
               round(sum(o_totalprice), 2)    AS day_revenue
        FROM orders
        GROUP BY o_orderstatus, date_trunc('day', o_orderdate)
    )
    SELECT
        o_orderstatus,
        CAST(count(*) AS BIGINT) AS n_days,
        list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE), list(day_revenue ORDER BY day)),
            (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc
        ) AS ewma_revenue
    FROM daily
    GROUP BY o_orderstatus
    """,
    tags=("incremental", "recurrence", "time-series"),
)
def q_ewma_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per
    order status — a RECURRENCE (each step depends on the previous
    result), the computation class no commutative aggregate expresses.

    Shape: pre-aggregate to the tiny per-(status, day) rollup (one
    shuffle over the facts, partial map-side), then fold each status's
    day-ordered series with the EWMA recurrence inside one array
    expression — per-key state is one double, the fold input is |days|
    rows, never raw orders. The 100 TB form is identical; only the
    daily rollup's shuffle grows.

    Float pinning: day_revenue is snapped to the 2-decimal money grid;
    both engines then fold the same values in the same day order from
    the same initial 0.0 with the same α-recurrence — bit-identical
    (DuckDB's list_reduce has no init, so the oracle prepends the 0.0
    to make the fold structurally identical).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderstatus", F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("day_revenue"))
    return daily.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr(
            "aggregate("
            "  transform(array_sort(collect_list(struct(day, day_revenue))),"
            "            s -> s.day_revenue),"
            "  CAST(0.0 AS DOUBLE),"
            f"  (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc"
            ")"
        ).alias("ewma_revenue"),
    )


# --------------------------------------------------------------------------
# incremental view maintenance: partial-merge ≡ recompute

#: money on the exact integer cent grid: o_totalprice is generated on
#: 2 decimals, so floor(x*100+0.5) recovers exact cents as BIGINT and
#: every partial sum / merge is integer-exact in ANY order
_CENTS = "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"

_IVM_ORACLE = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT)      AS n_orders,
       CAST(sum({_CENTS}) AS BIGINT) AS revenue_cents,
       CAST(CAST(sum({_CENTS}) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
       CAST(CAST(max({_CENTS}) AS BIGINT) AS DOUBLE) / 100.0 AS max_order_value
FROM orders GROUP BY o_orderstatus
"""


@register(
    "q_ivm_merge_equivalence",
    oracle=_IVM_ORACLE,
    tags=("incremental", "ivm", "mergeable", "aggregate"),
)
def q_ivm_merge_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by partial-aggregate merge: the
    orders table arrives as three deterministic batches
    (``o_orderkey % 3``); each batch contributes a PARTIAL aggregate
    (count, integer-cent revenue, integer-cent max) and the maintained
    view is the re-aggregation of the partials — count by sum, sum by
    sum, max by max. The oracle recomputes from scratch, so the hash
    match proves merge(partials) ≡ recompute EXACTLY — possible only
    because money rides a BIGINT cent grid (double partial sums would
    drift an ulp per merge order).

    This is the state discipline of every streaming sink /
    materialized view at 100 TB: ingest updates the view in O(delta),
    never rescanning history, and a midnight recompute can verify the
    maintained state bit-for-bit.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.expr(_CENTS).alias("cents")
    )
    partials = [
        orders.filter(F.col("o_orderkey") % 3 == i)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pn"),
            F.sum("cents").cast("long").alias("pcents"),
            F.max("cents").cast("long").alias("pmax"),
        )
        for i in range(3)
    ]
    merged = partials[0].unionByName(partials[1]).unionByName(partials[2])
    view = merged.groupBy("o_orderstatus").agg(
        F.sum("pn").cast("long").alias("n_orders"),
        F.sum("pcents").cast("long").alias("revenue_cents"),
        F.max("pmax").cast("long").alias("max_cents"),
    )
    return view.selectExpr(
        "o_orderstatus",
        "n_orders",
        "revenue_cents",
        "CAST(revenue_cents AS DOUBLE) / 100.0 AS revenue",
        "CAST(max_cents AS DOUBLE) / 100.0 AS max_order_value",
    )
