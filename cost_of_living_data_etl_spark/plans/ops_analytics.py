"""Operational & market-structure analytics: rolling active users,
order-backlog aging, market concentration (HHI), and text readability.

The daily-ops dashboard tier: engagement reach over a trailing window,
the open-order aging report a fulfillment team walks every morning,
the market-concentration index an economist computes per region, and
the readability screen a content/curation team runs per source. Same
determinism toolkit as the whole catalog (integers first, money grid,
sorted folds for float sums).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.events_queries import (
    SESSIONS_CTE,
    with_session_seq,
)
from cost_of_living_data_etl_spark.sources.tables import load_table

ROLLING_DAYS = 7  # trailing active-user window
AGE_BUCKET_DAYS = 30  # backlog aging bucket width


# --- rolling 7-day active users --------------------------------------------

_ROLLING_AU_ORACLE = f"""
WITH day_user AS (
    SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
grid AS (SELECT DISTINCT day FROM day_user)
SELECT g.day,
       CAST(count(DISTINCT du.user_id) AS BIGINT) AS active_users_7d
FROM grid g JOIN day_user du
  ON du.day <= g.day AND du.day > g.day - INTERVAL {ROLLING_DAYS} DAY
GROUP BY g.day
"""


@register(
    "q_rolling_active_users",
    oracle=_ROLLING_AU_ORACLE,
    tags=("events", "engagement", "range-join"),
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {ROLLING_DAYS}-day active users per day — the WAU-style
    reach metric. A windowed COUNT(DISTINCT) cannot partial-aggregate,
    so the plan collapses events to DISTINCT (day, user) rows FIRST
    (the one event-scale shuffle), then EXPLODES each (day, user) row
    into the {ROLLING_DAYS} grid days it covers — turning the band
    join into an EQUI hash join/aggregate that genuinely scales as
    |days| x window x daily-actives (a raw non-equi band join compiles
    to a nested-loop over |day_user| x |all days|, ~350x more
    comparisons on a 7-year calendar). Grid days beyond the observed
    range are clipped by a broadcast semi join. (Cf.
    q_running_distinct_customers for the CUMULATIVE variant's
    first-seen trick; a trailing window has no such trick because
    users age OUT of it.)

    All-integer.
    """
    events = load_table(spark, sf_dir, "events")
    day_user = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    grid = day_user.select("day").distinct().withColumnRenamed("day", "gday")
    covered = day_user.select(
        "user_id",
        F.explode(
            F.expr(
                f"sequence(day, day + interval {ROLLING_DAYS - 1} days,"
                " interval 1 day)"
            )
        ).alias("gday"),
    )
    # clip to observed days (a user's coverage extends past the last
    # day with data), then the distinct count is an equi aggregate
    observed = covered.join(F.broadcast(grid), "gday", "left_semi")
    return observed.groupBy(F.col("gday").alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("active_users_7d")
    )


# --- order backlog aging ---------------------------------------------------

_BACKLOG_ORACLE = f"""
WITH snap AS (SELECT max(o_orderdate) AS max_d FROM orders),
open_orders AS (
    SELECT datediff('day', o_orderdate, max_d) AS age_days, o_totalprice
    FROM orders CROSS JOIN snap
    WHERE o_orderstatus = 'O'
)
SELECT CAST(age_days // {AGE_BUCKET_DAYS} AS INT)  AS age_bucket,
       CAST(count(*) AS BIGINT)                    AS n_orders,
       round(sum(o_totalprice), 2)                 AS open_value
FROM open_orders
GROUP BY age_days // {AGE_BUCKET_DAYS}
"""


@register(
    "q_order_backlog_aging",
    oracle=_BACKLOG_ORACLE,
    tags=("orders", "ops", "agg"),
)
def q_order_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aged into {AGE_BUCKET_DAYS}-day buckets
    (count + open value per bucket), as of the corpus max date
    (injectable-clock discipline — no wall clock). The fulfillment
    aging report; a growing old-bucket tail is the ops alarm.

    Status filter reaches the scan (PushedFilters); ages are integer
    day differences; bucket ids are integer division; the one float
    sum snaps to the money grid. Output is |buckets| rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    asof = orders.groupBy().agg(F.max("o_orderdate").alias("max_d"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .select(
            F.datediff("max_d", "o_orderdate").alias("age_days"),
            "o_totalprice",
        )
    )
    return open_orders.groupBy(
        F.floor(F.col("age_days") / AGE_BUCKET_DAYS).cast("int").alias(
            "age_bucket"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("open_value"),
    )


# --- market concentration (HHI) --------------------------------------------

_HHI_ORACLE = """
WITH cust_spend AS (
    SELECT c.c_nationkey, o.o_custkey,
           round(sum(o.o_totalprice), 2) AS spend
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, o.o_custkey
),
nation_tot AS (
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(spend), 2) AS total_spend
    FROM cust_spend GROUP BY c_nationkey
)
SELECT n.n_name,
       t.n_customers,
       t.total_spend,
       round(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list_sort(list((s.spend / t.total_spend)
                                       * (s.spend / t.total_spend)))),
           (a, b) -> a + b) * 10000, 4) AS hhi
FROM cust_spend s
JOIN nation_tot t ON s.c_nationkey = t.c_nationkey
JOIN nation n ON n.n_nationkey = s.c_nationkey
GROUP BY n.n_name, t.n_customers, t.total_spend
"""


@register(
    "q_market_concentration_hhi",
    oracle=_HHI_ORACLE,
    tags=("customer", "concentration", "economics"),
)
def q_market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of customer-spend concentration per
    nation (x10000, the antitrust convention: <1500 competitive,
    >2500 concentrated). The revenue-concentration complement to
    q_user_activity_gini's activity view — "how exposed is each
    market to its biggest customers?".

    Per-customer spend snaps to the money grid; nation totals re-snap;
    the share-square sum folds sorted (det_sum) and the index snaps to
    4 decimals. Customer dim broadcasts onto orders; everything after
    the per-customer rollup is |customers|-row arithmetic.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cust_spend = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    nation_tot = cust_spend.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum("spend"), 2).alias("total_spend"),
    )
    shared = cust_spend.join(F.broadcast(nation_tot), "c_nationkey").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return shared.groupBy("n_name", "n_customers", "total_spend").agg(
        F.round(
            det_sum(
                "(spend / total_spend) * (spend / total_spend)"
            )
            * 10000,
            4,
        ).alias("hhi")
    )


# --- text readability ------------------------------------------------------

_READABILITY_ORACLE = r"""
WITH scored AS (
    SELECT source,
           length(string_split_regex(trim(text), '\s+')) AS n_words,
           greatest(length(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
               AS n_sentences,
           length(regexp_split_to_array(lower(text), '[aeiouy]+')) - 1
               AS n_vowel_groups
    FROM documents
    WHERE trim(text) <> ''
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list_sort(list(
                            206.835
                            - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                            - 84.6 * (CAST(greatest(n_vowel_groups, n_words)
                                           AS DOUBLE) / n_words)))),
           (a, b) -> a + b) / count(*), 4) AS mean_flesch
FROM scored
GROUP BY source
"""


@register(
    "q_readability_by_source",
    oracle=_READABILITY_ORACLE,
    tags=("text", "quality", "readability"),
)
def q_readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Flesch reading-ease per source, with the classic cheap
    proxies: sentences = punctuation-delimited segments, syllables =
    vowel-group runs (floored at one per word). Another axis of the
    quality panel (q_text_quality_by_source counts shape; this scores
    linguistic complexity) — low scores flag legalese/boilerplate,
    implausibly high ones flag fragment spam.

    Both engines compute counts by splitting on identical regexes
    (split-count = match-count + 1, so the arithmetic is integer until
    the final formula), and the per-source mean folds sorted
    (det_sum). Map-only until the |sources| aggregate; text never
    shuffles.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    scored = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
        F.greatest(
            F.size(F.split(F.col("text"), r"[.!?]+")) - 1, F.lit(1)
        ).alias("n_sentences"),
        (F.size(F.split(F.lower(F.col("text")), r"[aeiouy]+")) - 1).alias(
            "n_vowel_groups"
        ),
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - 84.6
        * (
            F.greatest(F.col("n_vowel_groups"), F.col("n_words")).cast("double")
            / F.col("n_words")
        )
    )
    per_doc = scored.select("source", flesch.alias("flesch"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(det_sum("flesch") / F.count(F.lit(1)), 4).alias("mean_flesch"),
    )


# --- session entry-point conversion ----------------------------------------

_ENTRY_CONV_ORACLE = f"""
WITH {SESSIONS_CTE},
per_session AS (
    SELECT user_id, session_seq,
           first(event_type ORDER BY ts, event_id)                  AS entry_type,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM sessions GROUP BY user_id, session_seq
)
SELECT entry_type,
       CAST(count(*) AS BIGINT)        AS n_sessions,
       CAST(sum(converted) AS BIGINT)  AS n_converted,
       CAST(sum(converted) AS DOUBLE) / count(*) AS conversion_rate
FROM per_session
GROUP BY entry_type
"""


@register(
    "q_session_entry_conversion",
    oracle=_ENTRY_CONV_ORACLE,
    tags=("events", "session", "funnel"),
)
def q_session_entry_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session ENTRY point: sessions labeled by
    their first event type (same 30-min gap rule), converted if the
    session contains a purchase. The landing-page-effectiveness
    table — which entry experiences actually lead anywhere.

    The entry label is an argmin aggregate (min of an
    ((ts, event_id), type) struct — in-aggregate deterministic
    tie-break, the q_monthly_order_extremes discipline), conversion a
    conditional max; both partial-aggregate map-side. Integer counts,
    one final division.
    """
    per_session = with_session_seq(
        load_table(spark, sf_dir, "events")
    ).groupBy("user_id", "session_seq").agg(
        F.min(
            F.struct(F.struct("ts", "event_id").alias("o"), F.col("event_type"))
        )["event_type"].alias("entry_type"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("converted"),
    )
    return per_session.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias(
            "conversion_rate"
        ),
    )


# --- effective tokens after dedup ------------------------------------------

_EFFECTIVE_TOKENS_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, source, md5(text) AS h,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE length(string_split_regex(trim(text), '\s+')) END
                AS BIGINT) AS n_tokens
    FROM documents
),
keepers AS (
    SELECT h, min(doc_id) AS keep_id FROM toks GROUP BY h
)
SELECT t.source,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(t.n_tokens) AS BIGINT) AS raw_tokens,
       CAST(sum(CASE WHEN t.doc_id = k.keep_id THEN t.n_tokens ELSE 0 END)
            AS BIGINT)                 AS effective_tokens,
       CAST(sum(CASE WHEN t.doc_id = k.keep_id THEN t.n_tokens ELSE 0 END)
            AS DOUBLE) / sum(t.n_tokens) AS retention
FROM toks t JOIN keepers k ON t.h = k.h
GROUP BY t.source
"""


@register(
    "q_effective_tokens_by_source",
    oracle=_EFFECTIVE_TOKENS_ORACLE,
    tags=("text", "dedup", "curation", "tokens"),
)
def q_effective_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective (post-exact-dedup) token budget per source: raw
    whitespace tokens vs tokens surviving the keep-min-doc_id policy,
    and the retention ratio. THE number a pretraining-data plan is
    built on — raw corpus size overstates what dedup leaves, and
    per-source retention shows which feeds are mostly copies
    (complements q_dedup_rate_by_source's doc counts with the token
    weight that actually prices training).

    Token counts and the md5 keeper rule reuse the established
    conventions (whitespace tokenizer; md5(text) + min(doc_id) from
    q_dedup_exact_groups). Integer sums end to end, one final ratio.
    Text never shuffles: hashes and counts are computed in the scan
    projection, the join key is the 32-char hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    # keeper via window-min over the hash partition — ONE shuffle of
    # the slim frame (the corpus_prep keeper discipline), not a
    # groupBy + join-back that exchanges it twice
    joined = toks.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("h"))
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("raw_tokens"),
        F.sum(
            F.when(F.col("doc_id") == F.col("keep_id"), F.col("n_tokens"))
            .otherwise(F.lit(0))
        ).alias("effective_tokens"),
        (
            F.sum(
                F.when(F.col("doc_id") == F.col("keep_id"), F.col("n_tokens"))
                .otherwise(F.lit(0))
            ).cast("double")
            / F.sum("n_tokens")
        ).alias("retention"),
    )


# --- event burstiness (Fano factor) ----------------------------------------

_BURSTINESS_ORACLE = """
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day, count(*) AS c
    FROM events GROUP BY event_type, date_trunc('day', ts)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(c) AS DOUBLE) / count(*) AS mean_daily,
       (CAST(sum(c * c) AS DOUBLE)
        - CAST(sum(c) AS DOUBLE) * sum(c) / count(*)) / (count(*) - 1)
           AS var_daily,
       ((CAST(sum(c * c) AS DOUBLE)
         - CAST(sum(c) AS DOUBLE) * sum(c) / count(*)) / (count(*) - 1))
       / (CAST(sum(c) AS DOUBLE) / count(*)) AS fano
FROM daily
GROUP BY event_type
"""


@register(
    "q_event_burstiness",
    oracle=_BURSTINESS_ORACLE,
    tags=("events", "dispersion", "agg"),
)
def q_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of daily counts) per event type — the
    dispersion index separating steady Poisson-like traffic (≈1) from
    bursty/campaign-driven load (≫1) and throttled/quota'd flows (<1).
    The shape statistic capacity planning reads next to
    q_concurrent_sessions_peak's level.

    Daily counts are INTEGERS, so Σc and Σc² are exact integer sums —
    the moments need no sorted fold; the double arithmetic at the end
    is identical-input identical-op on both engines. Two bounded
    aggregates: |types|×|days| then |types|.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    n = F.count(F.lit(1))
    sc = F.sum("c")
    scc = F.sum(F.col("c") * F.col("c"))
    mean = sc.cast("double") / n
    var = (scc.cast("double") - sc.cast("double") * sc / n) / (n - 1)
    return daily.groupBy("event_type").agg(
        n.cast("long").alias("n_days"),
        mean.alias("mean_daily"),
        var.alias("var_daily"),
        (var / mean).alias("fano"),
    )
