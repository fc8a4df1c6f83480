"""The reference's exact operator chain, exercised over the driver's
star schema so it sits inside the DuckDB-oracle correctness gate.

The cost-of-living ETL (plans/etl.py) reads lake CSVs that only exist
in test fixtures; these queries run the SAME operator sequence —
substring filter (P1), bulk rename (P2), projection (P3), constant
snapshot column (P4), cast (C1), de-comma cast (C2), string-suffix
normalize (C3), broadcast equi-joins with heterogeneous key names
(J1-J6), final rename+prune — against the always-available tables, so
every reference operator is hash-checked every round.

The DECIMAL(12,2) money mode runs here too: ``q_decimal_revenue_by_priority``
loads money as DECIMAL at the scan boundary
(``sources.tables.load_table_decimal_money``), keeps every aggregate
exact to the cent and emits canonical scale-2 strings (pandas flattens
DuckDB DECIMAL to float64, so a string is the only representation both
engines hand to the hash gate exactly); ``q_decimal_warehouse_roundtrip``
proves the write → partitioned layout → pruned read path keeps exact
cents.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.columns import (
    decomma_to_double,
    with_county_suffix,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import (
    load_table,
    load_table_decimal_money,
)


@register(
    "q_etl_shaped_conform",
    oracle="""
    WITH src AS (
        SELECT
            c_name            AS RAW_NAME,
            c_custkey         AS CUSTOMER_ID,
            c_acctbal         AS BALANCE,
            c_nationkey,
            c_mktsegment
        FROM customer
        WHERE c_mktsegment LIKE '%BUILD%'        -- P1 substring filter
    ),
    conformed AS (
        SELECT
            upper(RAW_NAME) || ' CONFORMED'       AS CUSTOMER_NAME,   -- C3 suffix
            CAST(CUSTOMER_ID AS INT)              AS CUSTOMER_ID,     -- C1 cast
            BALANCE                               AS ACCOUNT_BALANCE, -- P2 rename
            c_nationkey,
            DATE '2024-06-01'                     AS SNAPSHOT_DATE    -- P4 constant
        FROM src
    )
    SELECT                                         -- J + rename + prune
        CUSTOMER_NAME,
        CUSTOMER_ID,
        ACCOUNT_BALANCE,
        n.n_name                                  AS NATION_NAME,
        SNAPSHOT_DATE
    FROM conformed c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    tags=("etl", "reference-parity"),
)
def q_etl_shaped_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pipeline shape (app.py:33-192) over customer⋈nation.

    Keeps the reference's broadcast-join shape on purpose (the load
    itself, plans/etl.py::conform_to_facts, conforms by a literal key
    lookup instead): pushed substring filter, native
    renames/casts/concat, a constant snapshot column, broadcast dim
    join, final projection. Zero shuffles besides the (map-side)
    broadcast probe at any scale.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.filter(F.col("c_mktsegment").like("%BUILD%"))
        .withColumnsRenamed({"c_name": "RAW_NAME", "c_acctbal": "BALANCE"})
        .select(
            with_county_suffix(F.upper("RAW_NAME"), " CONFORMED").alias("CUSTOMER_NAME"),
            F.col("c_custkey").cast("int").alias("CUSTOMER_ID"),
            F.col("BALANCE").alias("ACCOUNT_BALANCE"),
            "c_nationkey",
            F.lit("2024-06-01").cast("date").alias("SNAPSHOT_DATE"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey, "inner")
        .select(
            "CUSTOMER_NAME",
            "CUSTOMER_ID",
            "ACCOUNT_BALANCE",
            F.col("n_name").alias("NATION_NAME"),
            "SNAPSHOT_DATE",
        )
    )


@register(
    "q_etl_shaped_decomma",
    oracle="""
    -- prices are exact 2-decimal doubles (verified: 0 rows with more
    -- precision), so render→de-comma→parse round-trips to the input;
    -- the oracle asserts that invariant (DuckDB's format() cannot
    -- comma-group floats to mirror the rendering directly)
    SELECT
        p_partkey,
        p_retailprice AS price_decomma
    FROM part
    WHERE p_size >= 10
    """,
    tags=("etl", "reference-parity", "scalar"),
)
def q_etl_shaped_decomma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 de-comma cast round-trip: render prices as comma-grouped
    strings (the lake format, reference app.py:71), then parse back
    with the engine's decomma_to_double — proving the cast on data the
    oracle can generate identically."""
    part = load_table(spark, sf_dir, "part")
    comma_str = F.format_number(F.col("p_retailprice"), 2)
    return part.filter(F.col("p_size") >= 10).select(
        "p_partkey",
        decomma_to_double(comma_str).alias("price_decomma"),
    )


@register(
    "q_pandas_udf_quality",
    oracle="""
    SELECT
        doc_id,
        least(length(text) / 500.0, 1.0) * 0.5
          + greatest(0.0, 1.0 - (length(regexp_extract_all(text, '[0-9]')) * 1.0
                                  / greatest(length(text), 1)) * 5) * 0.5 AS quality_udf
    FROM documents
    """,
    tags=("udf", "pandas-udf", "text"),
)
def q_pandas_udf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) scalar pandas_udf computing a quality score.

    Demonstrates the sanctioned UDF path: whole pandas Series per
    batch, zero per-row Python overhead. The identical formula exists
    natively (operators/textstats.py) — the UDF is here to prove the
    Arrow bridge is correct, which is why it CAN be oracle-checked.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them and pandas_udf's hint inspection can't resolve the strings;
    # hint-less defaults to the scalar eval type we want
    @pandas_udf("double")
    def quality_udf(text):
        n = text.str.len().clip(lower=1)
        length_component = (text.str.len() / 500.0).clip(upper=1.0)
        digit_ratio = text.str.count(r"[0-9]") / n
        digit_penalty = (1.0 - digit_ratio * 5).clip(lower=0.0)
        return length_component * 0.5 + digit_penalty * 0.5

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_udf(F.col("text")).alias("quality_udf")
    )


@register(
    "q_warehouse_roundtrip_facts",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus
    """,
    tags=("sink", "warehouse", "roundtrip", "partitioned"),
)
def q_warehouse_roundtrip_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 sink verification INSIDE the oracle gate: write a fact slice
    to a partitioned parquet warehouse layout, read it back through a
    partition-pruned scan, aggregate — and match the oracle computed
    straight from the SOURCE table. Equality proves the write→layout→
    read path loses and corrupts nothing (the reference's append sink,
    app.py:195-197, has no such check).

    Idempotent by construction: mode("overwrite") with a deterministic
    path keyed by the sf_dir, so driver cold/warm re-runs replace
    rather than accumulate. The read-back filter hits the partition
    column ⇒ only the o_orderstatus=F directory is listed (the same
    PartitionFilters mechanics tests/test_warehouse_layout.py asserts);
    at 100 TB this is the difference between scanning one partition
    and the whole table.
    """
    import hashlib
    import tempfile

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]  # per-session path: no cross-session overwrite race
    path = f"{tempfile.gettempdir()}/spark_graft_roundtrip_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- DECIMAL(12,2) money mode -----------------------------------------------

_DEC_REV_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
         AS revenue_exact,
       CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
         AS min_order_exact,
       CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
         AS max_order_exact
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "q_decimal_revenue_by_priority",
    oracle=_DEC_REV_ORACLE,
    tags=("decimal", "money", "agg"),
)
def q_decimal_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority in DECIMAL money mode: o_totalprice
    is DECIMAL(12,2) from the scan boundary on
    (``load_table_decimal_money`` — THE money-type decision, SURVEY §7
    hard point 1 / reference app.py:71), so the sum is exact cents —
    no partial-aggregation float drift at ANY parallelism, which is
    the property that makes decimal the principled money type on a
    1000-executor cluster where double summation order is
    nondeterministic.

    The money answers are emitted as canonical scale-2 STRINGS: the
    exact value, identically rendered by Spark's decimal→string cast
    and DuckDB's DECIMAL→VARCHAR (pandas would flatten DuckDB DECIMAL
    to float64, destroying the very exactness being proven).

    100 TB: one partial-aggregated pass to 5 groups; decimal sums
    combine associatively and exactly.
    """
    orders = load_table_decimal_money(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("string").alias("revenue_exact"),
            F.min("o_totalprice").cast("string").alias("min_order_exact"),
            F.max("o_totalprice").cast("string").alias("max_order_exact"),
        )
        .orderBy("o_orderpriority")
    )


_DEC_WH_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
         AS total_price_exact,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderstatus
"""


@register(
    "q_decimal_warehouse_roundtrip",
    oracle=_DEC_WH_ORACLE,
    tags=("decimal", "money", "sink", "warehouse", "roundtrip"),
)
def q_decimal_warehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-schema WAREHOUSE mode, verified inside the oracle gate:
    a fact slice with DECIMAL(12,2) money is written to a partitioned
    parquet warehouse layout, read back through a partition-pruned
    scan, aggregated exactly — and hash-matched against an oracle
    computed straight from the SOURCE table. Equality proves parquet's
    DECIMAL physical type survives the write→layout→read round trip
    bit-exactly (parquet stores decimals as scaled integers, so this
    is exact by construction — the test pins it).

    Same idempotence contract as q_warehouse_roundtrip_facts: a
    deterministic overwrite path keyed by sf_dir AND the Spark
    applicationId — within one session re-runs overwrite idempotently,
    while two concurrent sessions (parallel bench + pytest) each get a
    private path, so an overwrite can never race another session's
    read-back.
    """
    import hashlib
    import tempfile

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/spark_graft_decimal_roundtrip_{tag}"
    orders = load_table_decimal_money(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "O")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").cast("string").alias("total_price_exact"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
