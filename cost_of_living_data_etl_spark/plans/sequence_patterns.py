"""Sequence-pattern matching over event journeys (MATCH_RECOGNIZE lite).

The SQL:2016 `MATCH_RECOGNIZE` question — "which journeys follow
pattern P?" — that neither Spark nor the funnel/transition queries
answer directly: funnels count step PROGRESSIONS and transition
matrices count adjacent PAIRS, but "a view that reaches purchase with
NO error in between" is a regular-language property of the whole
ordered journey. Compile each journey = one (user, day) into its
event-initial string (click→c, error→e, purchase→p, signup→s,
view→v, ordered by (ts, event_id)) and match a fixed dimension table
of regex patterns against it — the classic scalable reduction of
sequence pattern matching to string matching.

Engine parity: Spark matches with Java regex (`rlike`), DuckDB with
RE2 (`regexp_matches`) — the pattern table therefore restricts itself
to the construct subset with identical semantics in both (literals,
character classes incl. negation, anchors, greedy quantifiers
? * + {n,}; no backrefs, no lookaround). Journey strings are built by
an explicitly ordered aggregation on both engines (array_sort over
(ts, event_id, ch) structs / string_agg ORDER BY), so ties cannot
reorder; counts are exact BIGINTs and `share` is one division.

100 TB: one shuffle keyed (user_id, day) builds journey strings whose
length is the user's DAILY event count (rate-bounded, not
corpus-bounded); the pattern table is a broadcast constant, so
matching is map-side; output is |patterns| rows.

Reference scope: the reference engine (app.py) has no sequence
operator; this extends the events/funnel family (SURVEY §2.8 events
analytics) the way `q_events_funnel` and `q_event_transition_matrix`
do.

`q_markov_event_transitions` gives the first-order transition
probabilities of the same per-user sequences.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

#: (name, regex) — portable Java/RE2 subset ONLY (see module docstring)
SESSION_PATTERNS = (
    ("clean_convert", "^[^e]*v[^e]*p"),  # view→purchase, error-free prefix
    ("error_recovery", "e[^e]*p"),       # an error later overcome
    ("error_loop", "ee"),                # consecutive errors
    ("bounce", "^.$"),                   # single-event journey
    ("deep_browse", "v.*v.*v"),          # ≥3 views
    ("signup_to_purchase", "s.*p"),      # activation funnel end-to-end
)

_INITIAL_CASE = (
    "CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'"
    " WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'"
    " WHEN 'view' THEN 'v' ELSE 'x' END"
)

_SHARE_EXPR = "CAST(n_matched AS DOUBLE) / n_journeys"


def _pattern_oracle() -> str:
    pats = ",\n        ".join(
        f"('{name}', '{rx}')" for name, rx in SESSION_PATTERNS
    )
    return f"""
WITH pats(pattern_name, rx) AS (
    VALUES {pats}
),
ev AS (
    SELECT user_id, date_trunc('day', ts) AS day, ts, event_id,
           {_INITIAL_CASE} AS ch
    FROM events
),
journeys AS (
    SELECT user_id, day,
           string_agg(ch, '' ORDER BY ts, event_id) AS s
    FROM ev GROUP BY user_id, day
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_journeys FROM journeys),
m AS (
    SELECT p.pattern_name,
           CAST(sum(CASE WHEN regexp_matches(j.s, p.rx) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched
    FROM pats p CROSS JOIN journeys j
    GROUP BY 1
)
SELECT pattern_name, n_matched, tot.n_journeys,
       {_SHARE_EXPR} AS share
FROM m, tot ORDER BY pattern_name
"""


def journey_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day, s): each journey's event-initial string in
    exact (ts, event_id) order — ordering is enforced by sorting the
    collected (ts, event_id, ch) structs, never by collection order."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.struct("ts", "event_id", F.expr(_INITIAL_CASE).alias("ch")).alias(
            "e"
        ),
    )
    return ev.groupBy("user_id", "day").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(e)), x -> x.ch), '')"
        ).alias("s")
    )


@register(
    "q_session_pattern_match",
    oracle=_pattern_oracle(),
    tags=("events", "sequence", "pattern", "match-recognize"),
)
def q_session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: how many (user, day) journeys match each
    of a fixed dimension of behavioural regex patterns over the
    journey's event-initial string — clean conversions, error
    recoveries, error loops, bounces, deep browsing, activation
    funnels. Whole-journey regular-language properties (e.g. "NO
    error between view and purchase") that step-wise funnel counts
    cannot express. Portable regex subset, ordered-aggregation string
    build, exact counts; see the module docstring."""
    journeys = journey_strings(spark, sf_dir)
    pats = spark.createDataFrame(
        list(SESSION_PATTERNS), "pattern_name string, rx string"
    )
    tot = journeys.agg(F.count(F.lit(1)).cast("long").alias("n_journeys"))
    m = (
        journeys.crossJoin(F.broadcast(pats))
        .groupBy("pattern_name")
        .agg(
            F.sum(
                F.when(F.expr("s RLIKE rx"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_matched")
        )
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "pattern_name",
            "n_matched",
            "n_journeys",
            F.expr(_SHARE_EXPR).alias("share"),
        )
        .orderBy("pattern_name")
    )


# --------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
),
c AS (
    SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
tot AS (
    SELECT event_type, sum(n) AS row_n FROM c GROUP BY event_type
)
SELECT c.event_type, c.next_type, c.n,
       c.n * 1.0 / t.row_n AS p_transition
FROM c JOIN tot t USING (event_type)
"""


@register(
    "q_markov_event_transitions",
    oracle=_MARKOV_ORACLE,
    tags=("sequence", "markov", "behavior"),
)
def q_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), from lead() pairs ordered
    by (ts, event_id). The behavioral fingerprint behind next-action
    prediction and funnel-anomaly detection (a sudden drop in
    view→purchase probability is a checkout regression). Scale: one
    window shuffle on user_id, then a |types|²-bounded aggregate;
    probabilities are single divisions of exact BIGINTs — bit-identical
    cross-engine.
    """
    events = load_table(spark, sf_dir, "events")
    seq = events.selectExpr(
        "user_id",
        "event_type",
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        " AS next_type",
    )
    c = (
        seq.filter("next_type IS NOT NULL")
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.groupBy("event_type").agg(F.sum("n").alias("row_n"))
    return c.join(tot, "event_type").select(
        "event_type",
        "next_type",
        "n",
        (F.col("n") * 1.0 / F.col("row_n")).alias("p_transition"),
    )
