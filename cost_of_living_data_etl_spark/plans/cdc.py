"""Change-data-capture: apply an ordered changelog to materialize the
current snapshot (last-writer-wins compaction).

The lakehouse-core operation behind every incremental ingest: upstream
emits a stream of keyed I/U/D change records with a monotone sequence
number, and the engine must materialize "latest version per key,
deletes removed" — the semantics of Debezium→Delta/Iceberg MERGE,
Kafka log compaction, and Snowflake streams. The reference pipeline
(reference app.py:106-199) re-extracts a full snapshot every run and
has no notion of incremental change; this operator is the north-star
upgrade that makes the warehouse maintainable at 100 TB, where
"re-extract everything" stops being an option.

Spark-first shape: the changelog is a plain DataFrame; compaction is
expressed as an AGGREGATE — `max(struct(seq, *payload))` per key —
not a per-key window. The two are equivalent (seq is unique per key),
but the aggregate form is skew-proof by construction: partial
aggregation combines map-side, so each mapper emits at most one row
per key before the exchange, and a hot key with millions of change
records costs the same shuffle bytes as a key with one. A window
`row_number() ORDER BY seq DESC` would instead shuffle every change
record of the hot key into one partition (AQE skew splitting does not
apply to windows).

The deterministic changelog here is derived from the orders fixture
(version 1 = insert, md5-gated update and delete versions) so the
whole apply path is hash-verifiable in DuckDB.

`q_table_diff_audit` is the snapshot-diff primitive beside the apply
path: added / removed / changed / unchanged keys between two dataset
versions, as one full-outer-join aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

_UPD_NIBBLES = ("0", "1", "2", "3", "4", "5", "6", "7")  # P(update)=1/2
_DEL_NIBBLES = ("0", "1", "2", "3")  # P(delete)=1/4, independent nibble


def _in_list(nibbles: tuple[str, ...]) -> str:
    """SQL IN-list from the nibble tuple (a Python tuple repr is only
    accidentally valid SQL — a 1-tuple's trailing comma would break)."""
    return "(" + ", ".join(f"'{n}'" for n in nibbles) + ")"


def synthetic_changelog(orders: DataFrame) -> DataFrame:
    """Deterministic I/U/D changelog derived from the orders table.

    Every order is inserted at seq 1; orders whose md5 first nibble is
    low get a price-bump update at seq 2; orders whose SECOND nibble
    is low (independent of the first) are deleted at seq 3.
    Deterministic by construction, so any engine derives the identical
    log.
    """
    h = F.md5(F.col("o_orderkey").cast("string"))
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("priority"),
        F.substring(h, 1, 1).alias("n1"),
        F.substring(h, 2, 1).alias("n2"),
    )
    inserts = base.select(
        "k", "price", "priority", F.lit(1).alias("seq"), F.lit("I").alias("op")
    )
    updates = base.filter(F.col("n1").isin(*_UPD_NIBBLES)).select(
        "k",
        (F.col("price") * F.lit(1.1)).alias("price"),
        "priority",
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    deletes = base.filter(F.col("n2").isin(*_DEL_NIBBLES)).select(
        "k", "price", "priority", F.lit(3).alias("seq"), F.lit("D").alias("op")
    )
    return inserts.unionByName(updates).unionByName(deletes)


def apply_changelog(log: DataFrame, key: str = "k", seq: str = "seq") -> DataFrame:
    """Materialize the current snapshot: latest version per key, with
    deleted keys dropped. The latest `op` is retained as provenance
    (callers drop it if unwanted).

    `max(struct(seq, payload...))` compares by seq first; seq is
    unique per key so no tie-break is needed. Partial aggregation
    makes this map-side combinable — see module docstring for why
    this beats the window formulation at scale.
    """
    payload = [c for c in log.columns if c not in (key, seq)]
    latest = log.groupBy(key).agg(F.max(F.struct(seq, *payload)).alias("_v"))
    cols = [F.col(key)] + [F.col(f"_v.{c}").alias(c) for c in payload]
    return latest.select(*cols).filter(F.col("op") != "D")


_CDC_ORACLE = f"""
WITH base AS (
    SELECT o_orderkey AS k, o_totalprice AS price, o_orderpriority AS priority,
           substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS n1,
           substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1) AS n2
    FROM orders
),
log AS (
    SELECT k, price, priority, 1 AS seq, 'I' AS op FROM base
    UNION ALL
    SELECT k, price * CAST(1.1 AS DOUBLE), priority, 2, 'U' FROM base
    WHERE n1 IN {_in_list(_UPD_NIBBLES)}
    UNION ALL
    SELECT k, price, priority, 3, 'D' FROM base
    WHERE n2 IN {_in_list(_DEL_NIBBLES)}
),
snap AS (
    SELECT k, price, priority, op FROM (
        SELECT k, price, priority, op,
               row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log
    ) WHERE rn = 1 AND op <> 'D'
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_live,
       CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       sum(price) AS live_value
FROM snap GROUP BY priority
"""


@register(
    "q_cdc_apply_changelog", oracle=_CDC_ORACLE, tags=("cdc", "agg", "incremental")
)
def q_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a keyed I/U/D changelog and profile the resulting
    snapshot per priority: live row count, how many keys' latest live
    version is an update, and total live value.

    The apply is a single map-side-combinable aggregate (see
    `apply_changelog`). The oracle replays the identical log
    derivation with a window-based last-writer-wins in DuckDB; both
    must agree exactly (sums of doubles within driver float
    tolerance).
    """
    orders = load_table(spark, sf_dir, "orders")
    snap = apply_changelog(synthetic_changelog(orders))
    return snap.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum((F.col("op") == "U").cast("bigint")).alias("n_updated"),
        F.sum("price").alias("live_value"),
    )


# --------------------------------------------------------------------------
# snapshot diff audit

#: md5 bucket on the key — the house deterministic split (reshape.py)
_DIFF_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast(c_custkey AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT) % 100"
)
_DIFF_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 100"
)
#: restatement on the exact cent grid (see mllite SCD2 note: round()
#: disagrees between engines on .5-cent midpoints; floor(x*110+0.5)/100
#: evaluates identically)
_RESTATE = "floor(c_acctbal * 110.0 + 0.5) / 100.0"

_DIFF_ORACLE = f"""
WITH b AS (
    SELECT c_custkey, c_mktsegment, c_acctbal,
           {_DIFF_BUCKET_SQL} AS bk
    FROM customer
),
v1 AS (
    SELECT c_custkey, c_mktsegment, c_acctbal FROM b WHERE bk < 95
),
v2 AS (
    SELECT c_custkey, c_mktsegment,
           CASE WHEN bk >= 5 AND bk < 10 THEN {_RESTATE}
                ELSE c_acctbal END AS c_acctbal
    FROM b WHERE bk >= 5
),
d AS (
    SELECT COALESCE(v1.c_mktsegment, v2.c_mktsegment) AS segment,
           CASE WHEN v1.c_custkey IS NULL THEN 'added'
                WHEN v2.c_custkey IS NULL THEN 'removed'
                WHEN v1.c_acctbal <> v2.c_acctbal THEN 'changed'
                ELSE 'unchanged' END AS status,
           COALESCE(v1.c_acctbal, 0.0) AS bal_v1,
           COALESCE(v2.c_acctbal, 0.0) AS bal_v2
    FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
)
SELECT segment, status, CAST(count(*) AS BIGINT) AS n_keys,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_sort(list(bal_v1))), (a, b) -> a + b) AS bal_v1,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_sort(list(bal_v2))), (a, b) -> a + b) AS bal_v2
FROM d GROUP BY segment, status
"""


@register(
    "q_table_diff_audit",
    oracle=_DIFF_ORACLE,
    tags=("cdc", "diff", "audit", "join"),
)
def q_table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff audit between two deterministic versions of the
    customer dimension (v1 = md5 buckets 0-94; v2 = buckets 5-99 with
    buckets 5-9 restated ×1.1 on the cent grid): per (segment, status ∈
    added/removed/changed/unchanged) key counts and balance mass per
    side — the "what changed between table versions" reconciliation
    every CDC/MERGE pipeline runs before applying a batch.

    Scale: one full outer join on the key (shuffle both sides by
    c_custkey — co-locatable via bucketing, see
    q_bucketed_colocated_join) followed by a small-cardinality
    aggregate. No row ever reaches the driver.
    """
    b = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.expr(_DIFF_BUCKET_SPARK).alias("bk"),
    )
    v1 = b.filter(F.col("bk") < 95).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    v2 = b.filter(F.col("bk") >= 5).select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            (F.col("bk") >= 5) & (F.col("bk") < 10), F.expr(_RESTATE)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    d = v1.alias("v1").join(
        v2.alias("v2"),
        F.col("v1.c_custkey") == F.col("v2.c_custkey"),
        "full_outer",
    ).select(
        F.coalesce("v1.c_mktsegment", "v2.c_mktsegment").alias("segment"),
        F.when(F.col("v1.c_custkey").isNull(), F.lit("added"))
        .when(F.col("v2.c_custkey").isNull(), F.lit("removed"))
        .when(
            F.col("v1.c_acctbal") != F.col("v2.c_acctbal"), F.lit("changed")
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.coalesce("v1.c_acctbal", F.lit(0.0)).alias("b1"),
        F.coalesce("v2.c_acctbal", F.lit(0.0)).alias("b2"),
    )
    return d.groupBy("segment", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        det_sum("b1").alias("bal_v1"),
        det_sum("b2").alias("bal_v2"),
    )
