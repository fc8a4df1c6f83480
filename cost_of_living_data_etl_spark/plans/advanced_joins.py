"""Advanced join & aggregation strategies the reference lacks.

The reference's join surface is six broadcast equi-joins (reference
app.py:151-164); a real warehouse workload also needs as-of joins,
interval/range joins, grouping sets, skew-safe aggregation, and
grouped-map transforms. Each is implemented with the scale strategy a
1000-executor cluster wants — not the first plan that passes:

- as-of join   → union + window (ONE shuffle, no join, no range
                 explosion) instead of the naive inequality join.
- range join   → equi-key + residual time predicate so Spark hashes on
                 the key and only the residual is evaluated per pair.
- skewed agg   → two-phase salted aggregation (partial on (key, salt),
                 final on key) so one hot key spreads over N reducers.
- grouped map  → applyInPandas with bounded group count (25 nations).
- as-of view   → `q_asof_join_purchase_view`: each purchase takes the
                 latest view at or before it.
- lateral join → `q_lateral_topk_orders`: per-customer top-3 through a
                 correlated LATERAL subquery with ORDER BY + LIMIT.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table


@register(
    "q_asof_join_last_purchase",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    best AS (
        SELECT
            c.event_id, c.user_id, c.ts AS click_ts,
            p.ts AS purchase_ts, p.value AS purchase_value,
            row_number() OVER (
                PARTITION BY c.event_id
                ORDER BY p.ts DESC, p.value DESC
            ) AS rn
        FROM clicks c
        JOIN purchases p ON c.user_id = p.user_id AND p.ts <= c.ts
    )
    SELECT event_id, user_id, click_ts, purchase_ts, purchase_value
    FROM best WHERE rn = 1
    """,
    tags=("join", "asof", "events"),
)
def q_asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent
    purchase at-or-before the click (DuckDB ASOF JOIN semantics, with
    the equal-timestamp tie pinned to the largest purchase value —
    ASOF itself leaves that tie engine-dependent, so the oracle states
    the choice explicitly via row_number).

    Spark has no ASOF JOIN; the naive translation is an inequality
    join (quadratic per user) or a per-key aggregate subquery (two
    shuffles + a re-join). This plan instead UNIONs build and probe
    rows, windows by (user_id, ts) and carries the last build row
    forward with last(ignorenulls) — ONE shuffle on user_id, linear
    work per user, no join operator at all. At 100 TB this is the
    difference between a sort within each key partition and a blown-up
    O(clicks x purchases) pair stream.
    """
    events = load_table(spark, sf_dir, "events")
    probe = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("double").alias("p_value"),
    )
    build = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("value").alias("p_value"),
    )
    # at equal ts the build row must sort before the probe so ">="
    # (inclusive) as-of semantics hold — hence orderBy(ts, is_probe);
    # p_value breaks build-vs-build ties deterministically (last() then
    # picks the LARGEST value, mirroring the oracle's ORDER BY
    # p.value DESC) — without it, two same-ts purchases would make the
    # match shuffle-order-dependent
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "p_value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    build_ts = F.when(F.col("is_probe") == 0, F.col("ts"))
    build_val = F.when(F.col("is_probe") == 0, F.col("p_value"))
    return (
        probe.unionByName(build)
        .withColumn("purchase_ts", F.last(build_ts, ignorenulls=True).over(w))
        .withColumn("purchase_value", F.last(build_val, ignorenulls=True).over(w))
        .filter((F.col("is_probe") == 1) & F.col("purchase_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "purchase_ts",
            "purchase_value",
        )
    )


@register(
    "q_range_join_error_burst",
    oracle="""
    SELECT
        e.event_id AS err_id,
        e.user_id,
        count(f.event_id) AS events_in_window
    FROM events e
    LEFT JOIN events f
      ON f.user_id = e.user_id
     AND f.ts >  e.ts
     AND f.ts <= e.ts + INTERVAL 5 MINUTE
    WHERE e.event_type = 'error'
    GROUP BY 1, 2
    """,
    tags=("join", "range", "events"),
)
def q_range_join_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events within 5 minutes after each error
    by the same user.

    The equality on user_id makes this a hash-partitioned equi-join
    with the time predicate as a residual filter — Spark shuffles both
    sides on user_id only, so cost is |pairs within a user|, never a
    cartesian product. (A keyless interval join would instead bin
    timestamps to coarse buckets and equi-join on the bucket id.)
    """
    events = load_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    follow = events.select("user_id", "ts", "event_id")
    cond = (
        (follow.user_id == errors.err_user)
        & (follow.ts > errors.err_ts)
        & (follow.ts <= errors.err_ts + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        errors.join(follow, cond, "left")
        .groupBy("err_id", "err_user")
        .agg(F.count("event_id").alias("events_in_window"))
        .select("err_id", F.col("err_user").alias("user_id"), "events_in_window")
    )


@register(
    "q_grouping_sets_revenue",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        sum(l_extendedprice * (1 - l_discount)) AS revenue,
        count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("aggregate", "grouping-sets"),
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: detail, per-flag subtotal, and grand total in one
    pass (single shuffle; Spark expands the sets map-side, so partial
    aggregation still applies — vs three separate jobs + union).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT
            l_returnflag,
            l_linestatus,
            sum(l_extendedprice * (1 - l_discount)) AS revenue,
            count(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "q_salted_agg_customer_spend",
    oracle="""
    SELECT
        o_custkey,
        sum(o_totalprice) AS total_spent,
        count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
    tags=("aggregate", "skew", "salting"),
)
def q_salted_agg_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation, hash-identical to a plain groupBy.

    Phase 1 groups on (key, salt) — a hot customer's rows land on up
    to 16 different reducers; phase 2 re-aggregates the tiny partial
    table on the key alone. sum is reassociated as sum-of-sums and
    count as sum-of-counts. This is the manual skew guard for when a
    single key exceeds one executor's memory; for moderate skew AQE's
    skewJoin/coalesce handles it without salting.
    """
    orders = load_table(spark, sf_dir, "orders")
    partial = (
        orders.withColumn(
            "salt", F.pmod(F.crc32(F.col("o_orderkey").cast("string")), F.lit(16))
        )
        .groupBy("o_custkey", "salt")
        .agg(
            F.sum("o_totalprice").alias("partial_spent"),
            F.count("*").alias("partial_n"),
        )
    )
    return partial.groupBy("o_custkey").agg(
        F.sum("partial_spent").alias("total_spent"),
        F.sum("partial_n").alias("n_orders"),
    )


@register(
    "q_grouped_map_zscore",
    oracle="""
    SELECT
        c_custkey,
        c_nationkey,
        (c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_nationkey))
            / stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey) AS balance_z
    FROM customer
    """,
    tags=("udf", "grouped-map", "pandas"),
)
def q_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-nation z-score of account balance.

    Demonstrates the Arrow grouped-map path (whole group as one pandas
    DataFrame per call). Group count is bounded (25 nations) but group
    SIZE scales with the data — safe here because the kernel is O(n)
    with two passes; for unbounded-size groups prefer the equivalent
    window-function plan (which is what the oracle uses).
    """
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )

    def zscore(pdf):
        mu = pdf["c_acctbal"].mean()
        sd = pdf["c_acctbal"].std(ddof=1)
        out = pdf[["c_custkey", "c_nationkey"]].copy()
        if pdf["c_acctbal"].size < 2 or not sd == sd or sd == 0:  # NaN-safe
            # single-row group (stddev undefined) OR zero variance
            # (all balances identical): SQL division by NULL/0 yields
            # NULL in the oracle, while pandas would yield NaN — emit
            # NULL to match
            out["balance_z"] = None
        else:
            out["balance_z"] = (pdf["c_acctbal"] - mu) / sd
        return out

    return customer.groupBy("c_nationkey").applyInPandas(
        zscore, "c_custkey long, c_nationkey long, balance_z double"
    )


@register(
    "q_window_trailing_7d_revenue",
    oracle="""
    WITH daily AS (
        SELECT
            date_trunc('day', o_orderdate) AS order_day,
            sum(o_totalprice) AS day_revenue
        FROM orders
        GROUP BY 1
    )
    SELECT
        order_day,
        day_revenue,
        sum(day_revenue) OVER (
            ORDER BY datediff('day', DATE '1995-01-01', CAST(order_day AS DATE))
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
        ) AS trailing_7d_revenue
    FROM daily
    """,
    tags=("window", "range-frame", "time-series"),
)
def q_window_trailing_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: 7-day trailing revenue over daily totals.

    rangeBetween on a day-number column handles calendar gaps (a
    missing day still ages out of the frame), which rowsBetween(-6, 0)
    gets wrong. The groupBy first collapses the data to one row per
    day, so the unpartitioned window sorts only |days| rows — bounded
    by the calendar, not the data size; the heavy lifting stays in the
    partial-aggregated groupBy.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("order_day")
    ).agg(F.sum("o_totalprice").alias("day_revenue"))
    day_num = F.datediff(
        F.to_date("order_day"), F.lit("1995-01-01").cast("date")
    )
    w = Window.orderBy(day_num).rangeBetween(-6, 0)
    return daily.select(
        "order_day",
        "day_revenue",
        F.sum("day_revenue").over(w).alias("trailing_7d_revenue"),
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT
        l_orderkey,
        o_orderdate,
        sum(l_extendedprice * (1 - l_discount)) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate  > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "multi-join", "topk", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + aggregate + global top-10.

    Plan notes: both date filters are pushed to the parquet scans
    (PushedFilters), the filtered customer side is small enough that
    AQE converts its join to broadcast at runtime, and the final
    top-10 is TakeOrderedAndProject — per-partition heaps, no global
    sort of the aggregate output.
    """
    cutoff = F.lit("1996-03-15").cast("timestamp")
    customer = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q_grouped_agg_geomean",
    oracle="""
    SELECT
        o_orderpriority,
        exp(avg(ln(o_totalprice))) AS geomean_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("udf", "grouped-agg", "pandas"),
)
def q_grouped_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-AGG pandas_udf (Series → scalar): geometric mean of
    order value per priority — the UDAF variant of the Arrow UDF
    surface (scalar pandas_udf, grouped-map, mapInPandas, and UDTF are
    covered elsewhere; this completes the set).

    The kernel is algebraic (mean of logs), so Spark still runs it as
    partial aggregates per partition ONLY IF expressed natively — a
    pandas grouped-agg UDAF instead ships whole groups to Python. That
    is the documented trade-off: use this path for genuinely
    non-algebraic kernels (e.g. exact medians of small groups); here
    the group count is bounded (5 priorities) so the Arrow transfer is
    small and the demonstration is safe at scale only because the
    DOMAIN is bounded. The oracle shows the native equivalent.
    """
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations`
    # stringifies hints so the Series->scalar signature can't be
    # inferred (same reason q_pandas_udf_quality goes hint-less)
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        return float(np.exp(np.log(v).mean()))

    orders = load_table(spark, sf_dir, "orders")
    # NB: Spark forbids mixing grouped-agg pandas UDFs with native
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — another
    # reason the native algebraic form wins when it exists.
    return orders.groupBy("o_orderpriority").agg(
        geomean("o_totalprice").alias("geomean_price"),
    )


@register(
    "q_cogroup_user_purchase_profile",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(o_totalprice) AS order_value
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT user_id AS custkey,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(value) AS event_value
        FROM events GROUP BY 1
    )
    SELECT CAST(custkey AS BIGINT)                  AS custkey,
           CAST(coalesce(o.n_orders, 0) AS BIGINT)  AS n_orders,
           coalesce(o.order_value, 0.0)             AS order_value,
           CAST(coalesce(e.n_events, 0) AS BIGINT)  AS n_events,
           coalesce(e.event_value, 0.0)             AS event_value
    FROM o FULL OUTER JOIN e USING (custkey)
    """,
    tags=("pandas-udf", "cogroup", "udf-surface"),
)
def q_cogroup_user_purchase_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: align each customer's ORDERS group with
    their EVENTS group in one kernel call and emit a combined profile
    (order/event counts and value totals; keys missing on one side get
    zeros).

    Completes the vectorized-UDF surface (scalar pandas_udf,
    grouped-agg, grouped-map, mapInPandas, UDTF, and now cogrouped
    map): cogroup is Spark's shape for two-sided per-key custom logic
    — feature joins where the kernel needs BOTH frames at once
    (sessionized attribution models, per-user feature crosses).

    Scale shape — cogroup on a BUCKET of keys, not the raw key: Spark
    fires one Python kernel call per cogroup key, so grouping on the
    raw custkey costs a fixed ~0.5 ms of call overhead per DISTINCT
    key (~17 s for the ~30k keys at sf0.1, and millions of calls at
    production key counts). Bucketing pmod(key, 64) bounds the calls
    at 64 while the kernel handles all of a bucket's keys in ONE
    vectorized pandas merge — this is the production cogroup recipe:
    both sides still shuffle exactly once (on the bucket), executor
    memory is bounded by the largest bucket (pick N_BUCKETS ∝
    |keys|/executor-mem at scale), and per-key logic stays vectorized.
    The demonstration kernel is deliberately SQL-mirrorable (the
    oracle's FULL OUTER JOIN of two aggregates); production kernels
    put the non-SQL pandas logic here.
    """
    import pandas as pd

    N_BUCKETS = 64

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("val"),
        F.pmod("o_custkey", F.lit(N_BUCKETS)).alias("bkt"),
    )
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey"),
        F.col("value").alias("val"),
        F.pmod("user_id", F.lit(N_BUCKETS)).alias("bkt"),
    )

    def profile(o_pdf: pd.DataFrame, e_pdf: pd.DataFrame) -> pd.DataFrame:
        o = (
            o_pdf.groupby("custkey")["val"]
            .agg(n_orders="size", order_value="sum")
            .reset_index()
        )
        e = (
            e_pdf.groupby("custkey")["val"]
            .agg(n_events="size", event_value="sum")
            .reset_index()
        )
        out = o.merge(e, on="custkey", how="outer")
        for c, fill in (
            ("n_orders", 0),
            ("order_value", 0.0),
            ("n_events", 0),
            ("event_value", 0.0),
        ):
            out[c] = out[c].fillna(fill)
        return out.astype(
            {"custkey": "int64", "n_orders": "int64", "n_events": "int64"}
        )

    return (
        orders.groupBy("bkt")
        .cogroup(events.groupBy("bkt"))
        .applyInPandas(
            profile,
            "custkey long, n_orders long, order_value double, "
            "n_events long, event_value double",
        )
    )


FUZZY_MAX_DIST = 2


@register(
    "q_fuzzy_name_pairs",
    oracle=f"""
    WITH names AS (
        SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts,
               string_split(p_name, ' ')[-1] AS blk
        FROM part GROUP BY p_name
    )
    SELECT a.name AS name_1, b.name AS name_2,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_1, b.n_parts AS n_parts_2
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
    """,
    tags=("fuzzy", "join", "string"),
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: distinct part-name pairs within
    Levenshtein distance {FUZZY_MAX_DIST}, blocked on the final word.

    The systematic version of the reference's hand-rolled county
    normalization (app.py:54 bolts " COUNTY" on and PRAYS the names
    then match): near-miss dimension keys ("blue bolt" / "blu bolt")
    are how real conformance breaks, and an edit-distance report per
    blocking bucket is the triage table. Scale shape: dedupe to
    DISTINCT names first (vocabulary-sized, not corpus-sized), block
    on a cheap key so the quadratic comparison runs inside small
    buckets only, and levenshtein stays a codegen'd JVM builtin —
    never a Python loop.
    """
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("blk", F.element_at(F.split("name", " "), -1))
    )
    a = names.select(
        F.col("name").alias("name_1"), F.col("n_parts").alias("n_parts_1"), "blk"
    )
    b = names.select(
        F.col("name").alias("name_2"), F.col("n_parts").alias("n_parts_2"), "blk"
    )
    return (
        a.join(b, ["blk"])
        .filter(F.col("name_1") < F.col("name_2"))
        .withColumn(
            "edit_dist", F.levenshtein("name_1", "name_2").cast("long")
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select("name_1", "name_2", "edit_dist", "n_parts_1", "n_parts_2")
    )


# --------------------------------------------------------------------------
# as-of join: each purchase ↔ the user's latest view at-or-before it
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH ve AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
    FROM events WHERE event_type IN ('view', 'purchase')
),
joined AS (
    SELECT user_id, ts, event_id, kind,
           max(CASE WHEN kind = 0 THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_view_ts
    FROM ve
)
SELECT CAST(event_id AS BIGINT) AS purchase_id,
       CAST(user_id AS BIGINT) AS user_id,
       ts AS purchase_ts,
       last_view_ts,
       epoch(ts) - epoch(last_view_ts) AS gap_seconds
FROM joined
WHERE kind = 1 AND last_view_ts IS NOT NULL
"""


@register(
    "q_asof_join_purchase_view",
    oracle=_ASOF_ORACLE,
    tags=("join", "asof", "event-time"),
)
def q_asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN — the time-series join Spark has no native operator
    for (kdb `aj`, DuckDB `ASOF JOIN`, Flink temporal join): each
    purchase matched to the same user's latest view at-or-before it.

    Composition shape: UNION the two sides with a kind marker, one
    window pass per user ordered by ts with a RANGE frame (ties at
    identical ts are ALL in-frame, so the result is deterministic
    without a tiebreak column), keep the right-side rows. One shuffle
    on user_id total — versus the naive equi-join-then-filter-then-
    argmax which shuffles the |views|×|purchases| per-user product.
    At 100 TB this is the canonical log-enrichment join (impressions
    as-of features, trades as-of quotes).
    """
    ve = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .selectExpr(
            "user_id",
            "ts",
            "event_id",
            "CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind",
        )
    )
    joined = ve.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "kind",
        "max(CASE WHEN kind = 0 THEN ts END) OVER ("
        "PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts",
    )
    return joined.filter("kind = 1 AND last_view_ts IS NOT NULL").selectExpr(
        "CAST(event_id AS BIGINT) AS purchase_id",
        "CAST(user_id AS BIGINT) AS user_id",
        "ts AS purchase_ts",
        "last_view_ts",
        "CAST(ts AS DOUBLE) - CAST(last_view_ts AS DOUBLE) AS gap_seconds",
    )


# --------------------------------------------------------------------------
# correlated LATERAL subquery top-k
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
