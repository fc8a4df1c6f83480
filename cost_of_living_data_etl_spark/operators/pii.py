"""PII detection & redaction over text columns.

A training-data pipeline must scrub personally identifiable
information before corpus release. This module implements the standard
regex family (emails, E.164-ish and US phone numbers, SSNs, IPv4
addresses, 13-19-digit card numbers) as NATIVE Spark expressions —
``regexp_replace`` / ``regexp_count`` chains, no Python in the row
path — so redaction runs inside whole-stage codegen at full scan
speed. At 100 TB this is a map-only pass: no shuffle, no UDF, and the
patterns are anchored with ``\\b``-style guards so a single pass per
pattern suffices.

All patterns are RE2-compatible (no lookbehind) so the same strings
run unchanged in the DuckDB oracle.

The synthetic fixture corpus contains no PII by construction, so the
catalog query's per-source counts are verified zeros; the operator's
positive behavior is unit-tested on synthetic rows in
``tests/test_pii.py`` (reference has no PII handling at all — this is
north-star surface, SURVEY §2.8).

Privacy audits and releases over the fact tables sit beside the
scanner: l-diversity (`q_l_diversity_audit`), t-closeness
(`q_t_closeness_audit`) and a differentially-private release of event
counts (`q_dp_release_event_counts`) whose Laplace noise is an
inverse-CDF of an md5-derived uniform, so both engines derive the
identical noised value and the hash gate can verify the mechanism.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# pattern → replacement token. Order matters: cards before phones so a
# 16-digit run is consumed as one card, not two phone fragments.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ssn": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    "card": (r"\b[0-9]{13,19}\b", "<CARD>"),
    "phone": (
        r"(?:\+?[0-9]{1,3}[-. (]{0,2})?[0-9]{3}[-. )]{0,2}[0-9]{3}[-. ]?[0-9]{4}\b",
        "<PHONE>",
    ),
    "ipv4": (
        r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
        "<IP>",
    ),
}


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its type token, in PII_PATTERNS
    order (one fused codegen projection — Catalyst collapses the chain)."""
    out = text
    for pattern, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, F.lit(pattern), F.lit(token))
    return out


def redact_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus scrub: redacted text + per-type counts + total flag.

    Counts are taken on the PROGRESSIVELY redacted text (each detector
    sees the previous detectors' replacements), so a 16-digit card
    number is one card, never also a phone — the count semantics match
    the redaction semantics exactly. Map-only; Catalyst collapses the
    projection chain into one codegen stage.
    """
    out = df.withColumn("_red", F.col(text_col))
    for name, (pattern, token) in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col("_red"), F.lit(pattern))
        ).withColumn(
            "_red", F.regexp_replace(F.col("_red"), F.lit(pattern), F.lit(token))
        )
    total = sum((F.col(f"n_{n}") for n in PII_PATTERNS), F.lit(0))
    return (
        out.withColumn("n_pii", total)
        .withColumn(text_col, F.col("_red"))
        .drop("_red")
    )


_ORACLE = """
SELECT
    source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CASE WHEN regexp_matches(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') THEN 1 ELSE 0 END)
        AS BIGINT) AS n_email_docs,
    CAST(sum(CASE WHEN regexp_matches(text,
        '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b') THEN 1 ELSE 0 END)
        AS BIGINT) AS n_ssn_docs,
    CAST(sum(CASE WHEN regexp_matches(text,
        '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b') THEN 1 ELSE 0 END)
        AS BIGINT) AS n_ip_docs
FROM documents
GROUP BY source
"""


@register("q_pii_scan_stats", oracle=_ORACLE, tags=("text", "pii"))
def q_pii_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII audit: how many documents match each detector.

    The release-gate report a corpus build runs before shipping — on
    the synthetic fixtures every detector column is a verified zero
    (the corpus is word-salad by construction); positive-path behavior
    is unit-tested on planted PII in tests/test_pii.py. Map-only scan +
    5-value-key rollup; the regexes run fused in one codegen stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    email_pat, _ = PII_PATTERNS["email"]
    ssn_pat, _ = PII_PATTERNS["ssn"]
    ip_pat, _ = PII_PATTERNS["ipv4"]
    flag = lambda p: F.when(  # noqa: E731
        F.regexp_count(F.col("text"), F.lit(p)) > 0, 1
    ).otherwise(0)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flag(email_pat)).cast("long").alias("n_email_docs"),
        F.sum(flag(ssn_pat)).cast("long").alias("n_ssn_docs"),
        F.sum(flag(ip_pat)).cast("long").alias("n_ip_docs"),
    )


K_ANON = 5
BAL_BUCKET_WIDTH = 1000.0


@register(
    "q_k_anonymity_audit",
    oracle=f"""
    WITH q AS (
        SELECT c_mktsegment,
               c_nationkey,
               CAST(floor(c_acctbal / {BAL_BUCKET_WIDTH}) AS BIGINT) AS bal_bucket
        FROM customer
    ),
    g AS (
        SELECT c_mktsegment, c_nationkey, bal_bucket,
               CAST(count(*) AS BIGINT) AS gsize
        FROM q GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN gsize < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_groups,
           CAST(sum(CASE WHEN gsize < {K_ANON} THEN gsize ELSE 0 END) AS BIGINT)
               AS n_risky_rows,
           CAST(min(gsize) AS BIGINT) AS min_group_size
    FROM g GROUP BY c_mktsegment
    """,
    tags=("privacy", "agg"),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (market segment ×
    nation × fixed-width balance bucket): per segment, how many
    quasi-identifier equivalence classes exist, how many are smaller
    than k=5 (re-identification risk), and how many ROWS sit in
    those risky classes.

    The release-gating companion to the regex PII scan: PII scanning
    finds direct identifiers, k-anonymity quantifies indirect
    (linkage) risk. Scale shape: one partial-aggregated shuffle on the
    quasi-identifier tuple, then a tiny per-segment rollup — the
    balance bucket is FIXED-WIDTH (not ntile) precisely so no global
    sort or single-partition window appears at 100 TB.
    """
    customer = load_table(spark, sf_dir, "customer")
    q = customer.select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(BAL_BUCKET_WIDTH)).alias("bal_bucket"),
    )
    g = q.groupBy("c_mktsegment", "c_nationkey", "bal_bucket").agg(
        F.count(F.lit(1)).alias("gsize")
    )
    risky = F.col("gsize") < K_ANON
    return g.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(risky.cast("bigint")).alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("gsize")).otherwise(0)).alias("n_risky_rows"),
        F.min("gsize").alias("min_group_size"),
    )


# --------------------------------------------------------------------------
# l-diversity audit over a quasi-identifier release
# --------------------------------------------------------------------------

L_DIVERSITY = 2

_LDIV_ORACLE = f"""
SELECT o_orderpriority,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_sensitive,
       count(DISTINCT o_orderstatus) >= {L_DIVERSITY} AS l_diverse
FROM orders
GROUP BY o_orderpriority, extract(year FROM o_orderdate)
"""


@register(
    "q_l_diversity_audit",
    oracle=_LDIV_ORACLE,
    tags=("privacy", "l-diversity", "audit"),
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion to the k-anonymity scan in
    operators/pii.py: for each quasi-identifier cell (priority ×
    order year) of a hypothetical release, count distinct values of
    the sensitive attribute (order status). A k-anonymous cell whose
    members all share one sensitive value still leaks it
    (homogeneity attack); cells with n_sensitive < l must be
    generalized or suppressed before release. One grouped
    count-distinct — partial-aggregated, |cells| output rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        "o_orderpriority",
        F.expr("CAST(extract(year FROM o_orderdate) AS BIGINT)").alias(
            "order_year"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_orderstatus").cast("long").alias("n_sensitive"),
        (F.countDistinct("o_orderstatus") >= L_DIVERSITY).alias("l_diverse"),
    )


# --------------------------------------------------------------------------
# t-closeness audit (privacy triad: k-anon -> l-diversity -> t-close)
# --------------------------------------------------------------------------

T_CLOSE = 0.2  # max total-variation distance a releasable cell may show

_TCLOSE_ORACLE = f"""
WITH cells AS (
    SELECT o_orderpriority, extract(year FROM o_orderdate) AS order_year,
           o_orderstatus, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1, 2, 3
),
cell_tot AS (
    SELECT o_orderpriority, order_year,
           CAST(sum(cnt) AS BIGINT) AS n_rows
    FROM cells GROUP BY 1, 2
),
gstat AS (
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS gcnt,
           CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
    FROM orders GROUP BY 1
),
grid AS (
    SELECT t.o_orderpriority, t.order_year, t.n_rows,
           g.o_orderstatus, g.gcnt, g.n_total,
           coalesce(c.cnt, 0) AS cnt
    FROM cell_tot t CROSS JOIN gstat g
    LEFT JOIN cells c
      ON c.o_orderpriority = t.o_orderpriority
     AND c.order_year = t.order_year
     AND c.o_orderstatus = g.o_orderstatus
),
diffs AS (
    SELECT o_orderpriority, order_year, n_rows,
           abs(cnt * 1.0 / n_rows - gcnt * 1.0 / n_total) AS d
    FROM grid
)
SELECT o_orderpriority,
       CAST(order_year AS BIGINT) AS order_year,
       n_rows,
       0.5 * list_reduce(list_sort(list(d)), (a, b) -> a + b) AS tvd,
       0.5 * list_reduce(list_sort(list(d)), (a, b) -> a + b) <= {T_CLOSE}
         AS t_close
FROM diffs
GROUP BY o_orderpriority, order_year, n_rows
"""


@register(
    "q_t_closeness_audit",
    oracle=_TCLOSE_ORACLE,
    tags=("privacy", "t-closeness", "audit"),
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007), completing the release
    triad: k-anonymity bounds cell SIZE, l-diversity bounds sensitive
    VARIETY, t-closeness bounds sensitive DISTRIBUTION — a cell can
    hold all three status values and still leak if its mix is far from
    the corpus-wide mix (skewness attack: "90% of this cell's orders
    failed"). Per QI cell (priority × order year), total-variation
    distance between the cell's status distribution and the global one
    = 0.5·Σ|p_cell − p_global|, over a cells×statuses GRID join so
    absent statuses contribute their full global mass rather than
    silently dropping out.

    Determinism: every p is a single division of exact BIGINTs
    (IEEE-identical cross-engine); the ≤|statuses| addends fold in
    det_sum sorted order. Scale: one partial-aggregated shuffle on
    (QI, status); the grid is |cells|×|statuses| — release-schema
    bounded, never data bounded.
    """
    orders = load_table(spark, sf_dir, "orders")
    year = F.expr("CAST(extract(year FROM o_orderdate) AS BIGINT)").alias(
        "order_year"
    )
    cells = orders.groupBy("o_orderpriority", year, "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cell_tot = cells.groupBy("o_orderpriority", "order_year").agg(
        F.sum("cnt").alias("n_rows")
    )
    status_counts = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("gcnt")
    )
    glob = status_counts.crossJoin(
        F.broadcast(status_counts.agg(F.sum("gcnt").alias("n_total")))
    )
    grid = (
        cell_tot.crossJoin(F.broadcast(glob))
        .join(
            cells,
            ["o_orderpriority", "order_year", "o_orderstatus"],
            "left",
        )
        .select(
            "o_orderpriority",
            "order_year",
            "n_rows",
            (
                F.abs(
                    F.coalesce(F.col("cnt"), F.lit(0)) / F.col("n_rows")
                    - F.col("gcnt") / F.col("n_total")
                )
            ).alias("d"),
        )
    )
    tvd = (F.lit(0.5) * det_sum("d")).alias("tvd")
    return grid.groupBy("o_orderpriority", "order_year", "n_rows").agg(
        tvd,
        (F.lit(0.5) * det_sum("d") <= F.lit(T_CLOSE)).alias("t_close"),
    )


# --------------------------------------------------------------------------
# deterministic differentially-private count release
# --------------------------------------------------------------------------

DP_EPSILON = 1.0  # Laplace scale b = sensitivity/ε = 1.0 for counting

# A reproducible uniform in (0, 1) from the group key: first 6 md5 hex
# digits → integer in [0, 2^24), centered. Both engines derive the
# SAME u, so the inverse-CDF Laplace draw is identical — the mechanism
# is real DP shape-wise (noise ~ Laplace(1/ε)), with the RNG replaced
# by a keyed hash so the release is auditable by replay. Production
# would swap the hash seed for a secret per-release salt.
# CAST AS DOUBLE up front: with a bare `u_int + 0.5`, Spark parses the
# decimal literal as DECIMAL and carries decimal precision through the
# division (scale-rounded), while DuckDB computes in DOUBLE — a
# ~1e-12-relative divergence mid-range that blows up to ~1e-4 when u
# lands near 0 or 1 (ln of a tiny argument). Forcing double makes the
# arithmetic bit-identical on both engines.
_DP_U = "((CAST(u_int AS DOUBLE) + 0.5) / 16777216.0)"
_DP_NOISE = (
    f"(-1.0 / {DP_EPSILON}) * sign({_DP_U} - 0.5)"
    f" * ln(1.0 - 2.0 * abs({_DP_U} - 0.5))"
)

_DP_ORACLE = f"""
WITH c AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
    FROM events GROUP BY event_type
),
h AS (
    SELECT event_type, n_true,
           CAST(CAST('0x' || substring(md5(event_type), 1, 6) AS INTEGER)
                AS BIGINT) AS u_int
    FROM c
)
SELECT event_type, n_true,
       {_DP_NOISE} AS laplace_noise,
       n_true + {_DP_NOISE} AS n_released,
       {DP_EPSILON} AS epsilon
FROM h
"""


@register(
    "q_dp_release_event_counts",
    oracle=_DP_ORACLE,
    tags=("privacy", "differential-privacy", "release"),
)
def q_dp_release_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP count release over event types via the Laplace mechanism,
    with the noise drawn by inverse CDF from an md5-keyed uniform
    instead of an RNG — deterministic, so the release is replayable
    and both engines hash-match (the audit property k-anonymity and
    t-closeness queries in this catalog already have; this adds the
    NOISE-calibrated release). Complements q_k_anonymity_audit /
    q_t_closeness_audit: those measure re-identification risk of an
    exact release, this produces the protected release itself.

    Scale: one partial-agg count per type + a map-side noise
    expression — no extra shuffle over the rollup.
    """
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    h = c.withColumn(
        "u_int",
        F.expr(
            "CAST(conv(substring(md5(event_type), 1, 6), 16, 10) AS BIGINT)"
        ),
    )
    return h.select(
        "event_type",
        "n_true",
        F.expr(_DP_NOISE).alias("laplace_noise"),
        F.expr(f"n_true + {_DP_NOISE}").alias("n_released"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )
