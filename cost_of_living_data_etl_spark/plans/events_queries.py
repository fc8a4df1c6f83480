"""Batch analytics over the events table: tumbling windows,
gap-based sessionization, per-user activity — the batch twins of the
Structured Streaming jobs in ``streaming/events.py`` (same logical
windows, so streaming output can be validated against these).

The typed-state streaming operators get batch twins here as well
(`q_tws_ewma_user_twin`, `q_tws_user_profile_twin`,
`q_watermark_dedup_twin`): they share the streaming kernels' constants
and fold order, so streamed final state == batch twin is pinned by
tests/test_streaming.py and the twins' values are hash-verified.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table
from cost_of_living_data_etl_spark.streaming.events import (
    EWMA_STREAM_ALPHA,
    RECENT_K,
    click_purchase_attribution,
)

SESSION_GAP_MIN = 30

#: DuckDB twin of ``with_session_seq``: ``marked`` adds ``new_session``
#: and ``sessions`` adds ``session_seq`` to every events column.
SESSIONS_CTE = f"""
marked AS (
    SELECT *,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL {SESSION_GAP_MIN} MINUTE
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT *,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM marked
)"""


def with_session_seq(events: DataFrame) -> DataFrame:
    """``events`` plus ``new_session`` (1 when the user's previous event
    is missing or more than SESSION_GAP_MIN minutes earlier, else 0)
    and ``session_seq`` (the user's running count of session starts).

    Both windows order by (ts, event_id): with ts alone, two events at
    the same timestamp would make the running-sum row order (hence
    session_seq of the tied rows) engine-dependent. One shuffle on
    user_id, sort within user.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # full-precision gap test (ts carries microseconds): cast("long")
    # would truncate to whole seconds and disagree with the oracle's
    # INTERVAL comparison for gaps within 1s of exactly 30min
    new_session = F.when(
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    return events.withColumn("new_session", new_session).withColumn(
        "session_seq", F.sum("new_session").over(run)
    )


@register(
    "q_events_tumbling_5min",
    oracle="""
    SELECT
        time_bucket(INTERVAL 5 MINUTE, ts)   AS window_start,
        event_type,
        CAST(count(*) AS BIGINT)             AS n_events,
        sum(value)                           AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
    tags=("events", "window", "agg"),
)
def q_events_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event type.

    Identical grouping to the streaming job's
    ``groupBy(window("ts", "5 minutes"), "event_type")`` — epoch-aligned
    buckets, so DuckDB's time_bucket is the exact oracle.
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "5 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )


@register(
    "q_events_sliding_10m_5m",
    oracle="""
    WITH expanded AS (
        SELECT
            unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                    time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
                AS window_start,
            event_type, value
        FROM events
    )
    SELECT
        window_start,
        event_type,
        CAST(count(*) AS BIGINT)  AS n_events,
        sum(value)                AS total_value
    FROM expanded
    GROUP BY window_start, event_type
    """,
    tags=("events", "window", "sliding", "agg"),
)
def q_events_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 10-minute window, 5-minute slide, per event type.

    Each event lands in exactly window/slide = 2 overlapping windows;
    Spark's window() expands rows before the aggregate (the oracle
    mirrors this with an explicit 2-element unnest of epoch-aligned
    bucket starts). Scale: output rows = 2× tumbling, shuffle still on
    (window, type) — the standard dashboard smoothing shape.
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )


@register(
    "q_events_sessionization",
    oracle=f"""
    WITH {SESSIONS_CTE}
    SELECT
        user_id,
        CAST(session_seq AS BIGINT)                   AS session_seq,
        min(ts)                                       AS session_start,
        max(ts)                                       AS session_end,
        CAST(count(*) AS BIGINT)                      AS n_events,
        sum(value)                                    AS session_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    tags=("events", "session", "window"),
)
def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → flag →
    running sum → per-session aggregate.

    The same sessions Structured Streaming's session_window produces;
    here derived with plain windows so it is oracle-checkable. Scale:
    one shuffle on user_id, sort within user — the canonical pattern
    (``with_session_seq``).
    """
    return (
        with_session_seq(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
    )


@register(
    "q_events_click_attribution",
    oracle="""
    SELECT
        p.user_id                 AS user_id,
        CAST(p.event_id AS BIGINT)  AS purchase_id,
        p.ts                      AS purchase_ts,
        p.value                   AS purchase_value,
        CAST(c.event_id AS BIGINT)  AS click_id,
        c.ts                      AS click_ts
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
    tags=("events", "range-join", "attribution"),
)
def q_events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases attributed to same-user clicks in the prior 30 min —
    the batch twin of the stream-stream join
    (streaming/events.py::click_purchase_attribution), same output
    columns so streaming results are validated against this.

    Scale: equi-key on user_id carries the shuffle; the time-range
    predicate is a post-join filter within each user's partition. The
    streaming function's watermarks are dropped from a batch plan by
    the optimizer, so the batch and streaming joins share one builder.
    """
    return click_purchase_attribution(load_table(spark, sf_dir, "events"))


@register(
    "q_events_user_activity",
    oracle="""
    SELECT
        user_id,
        CAST(count(*) AS BIGINT)                          AS n_events,
        CAST(count(DISTINCT event_type) AS BIGINT)        AS n_types,
        sum(value)                                        AS total_value,
        min(ts)                                           AS first_seen,
        max(ts)                                           AS last_seen,
        CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
    FROM events
    GROUP BY user_id
    """,
    tags=("events", "agg"),
)
def q_events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile over the full event history."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").alias("n_types"),
            F.sum("value").alias("total_value"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
    )


@register(
    "q_events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT
        CAST(count(v.user_id) AS BIGINT) AS n_view,
        CAST(count(c.user_id) AS BIGINT) AS n_view_click,
        CAST(count(p.user_id) AS BIGINT) AS n_view_click_purchase
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    tags=("events", "funnel"),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel view → click → purchase:
    users counted at stage k only if stage k's event occurs at or after
    their stage-(k-1) anchor time (first qualifying event).

    Scale shape: every stage aggregates and joins on ``user_id`` — one
    partitioning reused across all three stages (Catalyst's
    ReuseExchange + AQE keep the user-id shuffle from re-running), and
    the final count is a metadata-sized single-row aggregate. No event
    payload survives past the first projection.
    """
    ev = load_table(spark, sf_dir, "events")

    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_view_click"),
            F.count("t_purchase").alias("n_view_click_purchase"),
        )
    )


@register(
    "q_events_retention",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    firsts AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, d FROM ev)
    SELECT
        cohort_date,
        CAST(count(DISTINCT firsts.user_id) AS BIGINT) AS n_users,
        CAST(count(DISTINCT CASE WHEN date_diff('day', cohort_date, d) = 1
                                 THEN active.user_id END) AS BIGINT) AS retained_d1,
        CAST(count(DISTINCT CASE WHEN date_diff('day', cohort_date, d) = 7
                                 THEN active.user_id END) AS BIGINT) AS retained_d7
    FROM firsts JOIN active USING (user_id)
    GROUP BY cohort_date
    """,
    tags=("events", "retention", "cohort"),
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-seen date, with
    day-1 and day-7 return rates.

    Scale shape: the raw event stream collapses to DISTINCT
    (user_id, day) pairs in the first map+shuffle — at 100 TB that is
    the only pass over full event data; everything downstream operates
    on the per-user-day table (~3 orders of magnitude smaller). The
    firsts/active join and all aggregates share the user_id
    partitioning, so Catalyst reuses one exchange, and the final
    per-cohort rollup is metadata-sized.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    active = ev.distinct()
    off = F.datediff(F.col("d"), F.col("cohort_date"))
    return (
        firsts.join(active, "user_id")
        .groupBy("cohort_date")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count_distinct(F.when(off == 1, F.col("user_id"))).alias("retained_d1"),
            F.count_distinct(F.when(off == 7, F.col("user_id"))).alias("retained_d7"),
        )
    )


@register(
    "q_event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) /
               sum(n) OVER (PARTITION BY from_type) AS p
    FROM t
    """,
    tags=("sequence", "window", "agg"),
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: P(next event type | current type), ordered by (ts,
    event_id) so ties are deterministic across engines.

    Sequence mining at scale: ONE shuffle on user_id orders each
    user's history locally (the window never crosses users), the
    bigram aggregate partial-combines map-side to |types|² rows, and
    the per-from normalization is a window over that tiny matrix.
    Event-type vocabularies are small, so every post-shuffle stage is
    bounded regardless of input size; the same plan yields n-gram
    session models by widening the lag.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wf)).alias("p"),
    )


PATH_TOPK = 20


@register(
    "q_session_path_topk",
    oracle=f"""
    WITH {SESSIONS_CTE},
    paths AS (
        SELECT user_id, session_seq,
               array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
        FROM sessions
        GROUP BY user_id, session_seq
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {PATH_TOPK}
    """,
    tags=("events", "session", "path-mining", "topk"),
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: sessionize (same 30-min gap rule as
    q_events_sessionization), express each session as its ordered
    event-type sequence ('view>click>purchase'), rank paths by
    frequency — the source table for every product-analytics Sankey /
    funnel-discovery view.

    Scale shape: one shuffle on user_id for sessionization, one on
    (user_id, session_seq) collapsing each session to ONE path string
    (collect_list is per-session, bounded by session length — never a
    per-user or global collect), then a path-keyed count whose
    cardinality is the path vocabulary, and a global top-k via
    TakeOrdered. Paths longer than any real session would indicate a
    broken gap rule, not a bigger shuffle.
    """
    paths = (
        with_session_seq(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(ts, event_id, event_type))), s -> s.event_type), '>')"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOPK)
    )


# --------------------------------------------------------------------------
# TWS batch twin: lifetime per-user EWMA of event values
# --------------------------------------------------------------------------

_EWMA_TWIN_ORACLE = f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(value ORDER BY ts, event_id)),
           (acc, x) -> {EWMA_STREAM_ALPHA} * x
                       + {1 - EWMA_STREAM_ALPHA} * acc
       ) AS ewma_value
FROM events
GROUP BY user_id
"""


@register(
    "q_tws_ewma_user_twin",
    oracle=_EWMA_TWIN_ORACLE,
    tags=("streaming-twin", "typed-state", "recurrence"),
)
def q_tws_ewma_user_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/events.py::ewma_user_value: the FINAL
    per-user (n_events, ewma) the TWS ValueState holds after the whole
    events table has streamed through. Same α (EWMA_STREAM_ALPHA),
    same fold order (ts, event_id) — the streaming kernel sorts each
    micro-batch on exactly these keys, and chaining ordered batch
    folds is associative over concatenation, so final streaming state
    == one batch fold (pinned by
    tests/test_streaming.py::test_tws_ewma_final_state_equals_batch_twin).

    Scale: one groupBy(user) — per-key state is the value list for the
    fold; the streaming form is the one that holds O(1) state per key,
    this twin exists to hash-verify the kernel's arithmetic.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr(
            "aggregate("
            "  transform(array_sort(collect_list(struct(ts, event_id, value))),"
            "            s -> s.value),"
            "  CAST(0.0 AS DOUBLE),"
            f"  (acc, x) -> {EWMA_STREAM_ALPHA} * x"
            f"              + {1 - EWMA_STREAM_ALPHA} * acc"
            ")"
        ).alias("ewma_value"),
    )


# --------------------------------------------------------------------------
# TWS batch twin: typed-state user profile (Value+List+Map states)
# --------------------------------------------------------------------------

_PROFILE_TWIN_ORACLE = f"""
WITH vs AS (
    SELECT user_id, list(value ORDER BY ts, event_id) AS v
    FROM events GROUP BY user_id
),
base AS (
    SELECT user_id,
           CAST(length(v) AS BIGINT) AS n_events,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v),
                       (a, x) -> a + x) AS total_value,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v[-{RECENT_K}:]),
                       (a, x) -> a + x)
               / least(length(v), {RECENT_K}) AS recent_mean
    FROM vs
),
tc AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY user_id, event_type
),
top AS (
    SELECT user_id, event_type AS top_type,
           CAST(cnt AS BIGINT) AS top_type_count,
           row_number() OVER (
               PARTITION BY user_id ORDER BY cnt DESC, event_type ASC
           ) AS rn
    FROM tc
),
nt AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_types FROM tc GROUP BY user_id
)
SELECT b.user_id, b.n_events, b.total_value, b.recent_mean,
       nt.n_types, top.top_type, top.top_type_count
FROM base b
JOIN nt USING (user_id)
JOIN top ON top.user_id = b.user_id AND top.rn = 1
"""


@register(
    "q_tws_user_profile_twin",
    oracle=_PROFILE_TWIN_ORACLE,
    tags=("streaming-twin", "typed-state", "profile"),
)
def q_tws_user_profile_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/events.py::user_profile_typed_state —
    the final profile all three TWS state kinds hold after the full
    table streams through: lifetime count + det-ordered value total
    (ValueState), mean of the last RECENT_K values in (ts, event_id)
    order (ListState), distinct-type count and the deterministic top
    type — count desc, name asc (MapState). Equality with the
    streaming operator's last emission per user is pinned by
    tests/test_streaming.py::test_tws_profile_final_state_equals_batch_twin.

    Scale: one groupBy(user) + one groupBy(user, type) + a per-user
    top-1 window on the tiny type rollup; no raw-event re-shuffle
    beyond the two grouped passes.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    vs = events.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, value))),"
            " s -> s.value)"
        ).alias("v")
    )
    base = vs.select(
        "user_id",
        F.expr("CAST(size(v) AS BIGINT)").alias("n_events"),
        F.expr(
            "aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("total_value"),
        F.expr(
            f"aggregate(slice(v, greatest(1, size(v) - {RECENT_K - 1}),"
            f" {RECENT_K}), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            f" / least(size(v), {RECENT_K})"
        ).alias("recent_mean"),
    )
    tc = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = (
        tc.selectExpr(
            "user_id",
            "event_type AS top_type",
            "CAST(cnt AS BIGINT) AS top_type_count",
            "row_number() OVER (PARTITION BY user_id"
            " ORDER BY cnt DESC, event_type ASC) AS rn",
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    nt = tc.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    return base.join(nt, "user_id").join(top, "user_id")


# --------------------------------------------------------------------------
# batch twin of dropDuplicatesWithinWatermark
# --------------------------------------------------------------------------

#: simulated duplicate-arrival delay — inside the operator's 60-minute
#: watermark, so the streamed dedup is REQUIRED to drop every copy
DUP_DELAY_MIN = 10

_WATERMARK_DEDUP_ORACLE = f"""
WITH ingest AS (
    SELECT event_id, event_type, ts, value FROM events
    UNION ALL
    SELECT event_id, event_type,
           ts + INTERVAL {DUP_DELAY_MIN} MINUTE, value
    FROM events
),
kept AS (
    -- dropDuplicatesWithinWatermark(event_id) semantics on an ingest
    -- where every id re-arrives within the watermark: exactly one row
    -- per event_id survives; the twin pins the EARLIEST arrival (the
    -- payload is identical across copies, so only ts needs the rule)
    SELECT event_id, event_type, value, min(ts) AS ts
    FROM ingest GROUP BY event_id, event_type, value
)
SELECT k.event_type,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST((SELECT count(*) FROM ingest i
             WHERE i.event_type = k.event_type) AS BIGINT) AS n_ingested,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(value))),
                   (a, b) -> a + b) AS value_total,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM kept k
GROUP BY k.event_type
"""


@register(
    "q_watermark_dedup_twin",
    oracle=_WATERMARK_DEDUP_ORACLE,
    tags=("streaming-twin", "dedup", "watermark", "exactly-once"),
)
def q_watermark_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/events.py::dedup_within_watermark
    (``dropDuplicatesWithinWatermark(["event_id"])``): every event
    re-arrives {DUP_DELAY_MIN} minutes late — INSIDE the 60-minute
    watermark, so the streaming operator guarantees each duplicate is
    dropped while its id is still in state — and the twin keeps the
    earliest arrival per event_id, then emits the per-type ingest
    audit (unique vs ingested counts, value total, ts span) an
    exactly-once pipeline checks after the dedup stage.

    Kept-row determinism: within one micro-batch the streaming
    operator keeps an ARBITRARY copy, so the twin pins the
    ts-independent projection (ids, counts, value sums — the copies'
    payloads are identical) plus the earliest-arrival ts as the batch
    rule; tests/test_streaming.py asserts the streamed output matches
    the twin on the deterministic projection.

    Scale: the dedup is one groupBy(event_id) — partial-aggregated,
    no window; state in the STREAMING form is watermark-bounded
    (only ids younger than 60 minutes), which is the whole point of
    dropDuplicatesWithinWatermark over a global dropDuplicates.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    ingest = ev.unionAll(
        ev.withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {DUP_DELAY_MIN} MINUTES")
        )
    )
    kept = ingest.groupBy("event_id", "event_type", "value").agg(
        F.min("ts").alias("ts")
    )
    ingested = ingest.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_ingested")
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            det_sum("value").alias("value_total"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .join(ingested, "event_type")
        .select(
            "event_type",
            "n_unique",
            F.col("n_ingested").cast("long").alias("n_ingested"),
            "value_total",
            "first_ts",
            "last_ts",
        )
    )
