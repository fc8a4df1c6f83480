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
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

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
