"""Multi-dimensional data layout: Z-order (Morton) clustering and the
file-skipping statistics it buys.

Parquet/Delta/Iceberg data skipping works off per-file min/max column
stats: a file whose [min, max] range misses the predicate is never
opened. Sorting by ONE column gives perfect skipping on that column
and none on any other; interleaving the bits of two (or more) bucket
coordinates — the Z-order / Morton curve — gives every interleaved
dimension tight per-file ranges at once. This is `OPTIMIZE ZORDER BY`
in Delta and `sort_order(zorder(...))` in Iceberg, re-expressed here
as a plain Catalyst plan:

1. bucket each dimension to 8 bits against its global min/max (two
   1-row aggregates, broadcast — no shuffle of the fact side);
2. interleave the bits arithmetically (16-bit Morton code) — pure
   codegen expressions, no UDF;
3. order by (z, key) and chunk into fixed-row files; per-file
   min/max of both dimension buckets are then the skipping manifest.

Step 3 is fully distributed AND oracle-stable: the Morton code itself
is a bounded monotone bucket key (2^16 values for 8+8 bits), so
``with_global_position`` (operators/distributed_rank.py) assigns each
row its exact global ``row_number() - 1`` under (z, key) with
per-z-bucket partitioned windows + a bounded carry join — no
single-partition sort, no sampled ``repartitionByRange`` boundaries
(which would NOT be replayable in DuckDB). ``file_id = pos div
FILE_ROWS`` is then byte-for-byte the oracle's global row_number
chunking. `tests/test_layout.py` pins the payoff: a 2-D predicate
opens ≥2× fewer z-ordered files than date-sorted ones.

The table-maintenance passes of a lakehouse run over the same layout
as metadata-scale plans: the small-file compaction planner, the
file-skipping effectiveness grid, the incremental Z-order rewrite set
an append implies, a content-addressed dataset version manifest
(`version_partials`, also maintained by streaming/versioning.py), and
the delete-cascade pre-flight a purge job runs before mutating
anything.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from cost_of_living_data_etl_spark.operators.distributed_rank import (
    with_global_position,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

ZBITS = 8
FILE_ROWS = 1000


def morton_z(xb: Column, yb: Column, bits: int = ZBITS) -> Column:
    """Interleave two `bits`-bit bucket coordinates into a Morton
    code: x occupies even bit positions, y odd. Pure integer
    arithmetic — whole-stage-codegen'd, no UDF."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftright(xb, i).bitwiseAND(F.lit(1)) * (1 << (2 * i)))
        terms.append(F.shiftright(yb, i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1)))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def _morton_sql(xb: str, yb: str, bits: int = ZBITS) -> str:
    """DuckDB mirror of :func:`morton_z` (>> and & on integers)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({xb} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({yb} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def zorder_bounds(orders: DataFrame) -> DataFrame:
    """The 1-row global (price, day) bounds frame the bucket coding
    normalizes against — split out so incremental maintenance can code
    an append batch against the FULL table's bounds (table stats stay
    fixed while data arrives)."""
    return orders.agg(
        F.min("o_totalprice").alias("pmin"),
        F.max("o_totalprice").alias("pmax"),
        F.min(F.to_date("o_orderdate")).alias("dmin"),
        F.max(F.to_date("o_orderdate")).alias("dmax"),
    )


def zorder_code(orders: DataFrame, bounds: DataFrame) -> DataFrame:
    """Bucket-code rows against a bounds frame: (k, xb, yb, z) with
    xb/yb the 8-bit dimension buckets and z their Morton interleave.
    Pure codegen arithmetic after a broadcast of the 1-row bounds."""
    b = orders.crossJoin(F.broadcast(bounds))
    d = F.datediff(F.to_date("o_orderdate"), F.col("dmin"))
    dspan = F.datediff(F.col("dmax"), F.col("dmin"))
    # degenerate span (all prices equal) maps every row to bucket 0 —
    # the raw division would be DIVIDE_BY_ZERO under Spark 4's ANSI
    # default and NULL on DuckDB; the CASE is identical on both engines
    pspan = F.col("pmax") - F.col("pmin")
    xb = (
        F.when(pspan == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit((1 << ZBITS) - 1),
                F.floor(
                    (F.col("o_totalprice") - F.col("pmin"))
                    * float(1 << ZBITS)
                    / pspan
                ),
            )
        )
        .cast("bigint")
    )
    yb = F.floor(d * float(1 << ZBITS) / (dspan + F.lit(1))).cast("bigint")
    return b.select(
        F.col("o_orderkey").alias("k"), xb.alias("xb"), yb.alias("yb")
    ).withColumn("z", morton_z(F.col("xb"), F.col("yb")))


def zorder_files(
    orders: DataFrame,
    file_rows: int = FILE_ROWS,
    bounds_from: DataFrame | None = None,
) -> DataFrame:
    """Z-order the orders fact on (price, order day) and emit the
    per-file skipping manifest: (file_id, n_rows, price-bucket and
    day-bucket min/max). ``bounds_from``: normalize buckets against
    ANOTHER frame's bounds (default: ``orders`` itself) — the
    incremental-maintenance case where the layout covers the base
    table but coding must match full-table stats."""
    coded = zorder_code(orders, zorder_bounds(bounds_from or orders))
    # the position helper reads its input TWICE (bucket rollup +
    # position join) — materialize the slim (k, xb, yb, z) frame so
    # the scan + ~32-term Morton interleave runs once, not per branch
    # (the helper's own docstring asks expensive inputs to be
    # materialized first)
    from cost_of_living_data_etl_spark.functions.checkpoints import (
        eager_checkpoint,
    )

    coded = coded.transform(eager_checkpoint)
    # distributed zipWithIndex keyed on the bounded Morton code: exact
    # global (z, k) positions without a single-partition window
    files = with_global_position(coded, ["z", "k"], F.col("z")).withColumn(
        "file_id", F.floor(F.col("pos") / file_rows)
    )
    return files.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xb").alias("price_b_min"),
        F.max("xb").alias("price_b_max"),
        F.min("yb").alias("day_b_min"),
        F.max("yb").alias("day_b_max"),
    )


_Z_ORACLE = f"""
WITH bounds AS (
    SELECT min(o_totalprice) AS pmin, max(o_totalprice) AS pmax,
           min(CAST(o_orderdate AS DATE)) AS dmin,
           max(CAST(o_orderdate AS DATE)) AS dmax
    FROM orders
),
coded AS (
    SELECT o_orderkey AS k,
           CASE WHEN pmax = pmin THEN 0
                ELSE least({(1 << ZBITS) - 1}, CAST(floor(
                    (o_totalprice - pmin) * {float(1 << ZBITS)} / (pmax - pmin)
                ) AS BIGINT)) END AS xb,
           CAST(floor(
               date_diff('day', dmin, CAST(o_orderdate AS DATE))
               * {float(1 << ZBITS)} / (date_diff('day', dmin, dmax) + 1)
           ) AS BIGINT) AS yb
    FROM orders, bounds
),
z AS (
    SELECT k, xb, yb, {_morton_sql("xb", "yb")} AS z FROM coded
),
f AS (
    SELECT xb, yb,
           CAST(floor((row_number() OVER (ORDER BY z, k) - 1) / {FILE_ROWS})
                AS BIGINT) AS file_id
    FROM z
)
SELECT file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(xb) AS BIGINT) AS price_b_min,
       CAST(max(xb) AS BIGINT) AS price_b_max,
       CAST(min(yb) AS BIGINT) AS day_b_min,
       CAST(max(yb) AS BIGINT) AS day_b_max
FROM f GROUP BY file_id
"""


@register("q_zorder_layout_manifest", oracle=_Z_ORACLE, tags=("layout", "zorder"))
def q_zorder_layout_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the orders fact on (total price, order day) and return
    the per-file min/max skipping manifest a lakehouse table format
    would persist. The Morton interleave and the file assignment are
    replayed bit-for-bit in DuckDB; `tests/test_layout.py` pins the
    skipping advantage over a single-column sort."""
    return zorder_files(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# small-file compaction planner
# --------------------------------------------------------------------------

#: ingest batches per source (the simulated small-file manifest: one
#: "file" per (source, doc_id % COMPACT_BATCHES) ingest slice)
COMPACT_BATCHES = 16
#: target merged-file size in characters. A production constant —
#: files already at/above it become singleton groups, exactly like
#: OPTIMIZE's minFileSize/maxFileSize split.
COMPACT_TARGET_CHARS = 20_000

_COMPACT_ORACLE = f"""
WITH files AS (
    SELECT source,
           CAST(doc_id % {COMPACT_BATCHES} AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT)       AS n_docs,
           CAST(sum(n_chars) AS BIGINT)   AS file_chars
    FROM documents
    GROUP BY source, doc_id % {COMPACT_BATCHES}
),
planned AS (
    SELECT source, batch_id, n_docs, file_chars,
           CAST(coalesce(sum(file_chars) OVER (
               PARTITION BY source ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // {COMPACT_TARGET_CHARS} AS BIGINT) AS merge_group
    FROM files
)
SELECT source, merge_group,
       CAST(count(*) AS BIGINT)      AS n_files,
       CAST(sum(n_docs) AS BIGINT)   AS n_docs,
       CAST(sum(file_chars) AS BIGINT) AS chars_total,
       CAST(min(batch_id) AS BIGINT) AS batch_min,
       CAST(max(batch_id) AS BIGINT) AS batch_max
FROM planned
GROUP BY source, merge_group
"""


@register(
    "q_compaction_plan_manifest",
    oracle=_COMPACT_ORACLE,
    tags=("layout", "compaction", "lakehouse-ops", "planner"),
)
def q_compaction_plan_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan small-file compaction: per-source ingest-batch "files"
    bin-packed, in batch order, into merge groups of about
    ``COMPACT_TARGET_CHARS`` by exclusive running size —
    ``merge_group = cum_before DIV target``, so a group closes as soon
    as the files before the current one reach the target. Emits one
    row per planned merge job (file count, doc count, char mass,
    batch range).

    Scale: the window runs over the MANIFEST (one row per file), which
    is metadata-sized at any corpus size, partitioned by source — the
    same per-table-partition planning shape as Delta OPTIMIZE. All
    integers; the group rule is the corpus packer's integer chunking.
    """
    from pyspark.sql import Window

    files = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            "source",
            (F.col("doc_id") % COMPACT_BATCHES).cast("long").alias("batch_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("file_chars"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "merge_group",
        F.floor(
            F.coalesce(F.sum("file_chars").over(w), F.lit(0))
            / F.lit(COMPACT_TARGET_CHARS)
        ).cast("long"),
    )
    return planned.groupBy("source", "merge_group").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("file_chars").cast("long").alias("chars_total"),
        F.min("batch_id").cast("long").alias("batch_min"),
        F.max("batch_id").cast("long").alias("batch_max"),
    )


# --------------------------------------------------------------------------
# file-skipping effectiveness grid over the Z-order manifest
# --------------------------------------------------------------------------

#: probe coordinates per dimension: 32 + 64·i, i ∈ 0..3 — four evenly
#: spaced points across the 8-bit bucket space, crossed into 16 probes
_PROBE_STEP = 64
_PROBE_BASE = 32
_PROBES_PER_DIM = 4

_SKIP_ORACLE = f"""
WITH manifest AS ({_Z_ORACLE}),
grid AS (
    SELECT CAST({_PROBE_BASE} + {_PROBE_STEP} * a.i AS BIGINT) AS price_b,
           CAST({_PROBE_BASE} + {_PROBE_STEP} * b.i AS BIGINT) AS day_b
    FROM range({_PROBES_PER_DIM}) a(i), range({_PROBES_PER_DIM}) b(i)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS files_total FROM manifest)
SELECT price_b, day_b,
       CAST(count(file_id) AS BIGINT)          AS files_admit,
       CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS rows_admit,
       (SELECT files_total FROM tot)            AS files_total
FROM grid
LEFT JOIN manifest
  ON price_b_min <= price_b AND price_b <= price_b_max
 AND day_b_min   <= day_b   AND day_b   <= day_b_max
GROUP BY price_b, day_b
"""


@register(
    "q_skipping_effectiveness_grid",
    oracle=_SKIP_ORACLE,
    tags=("layout", "zorder", "skipping", "lakehouse-ops"),
)
def q_skipping_effectiveness_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit of the Z-order manifest: for each of 16
    (price-bucket, day-bucket) point probes, the number of files whose
    min/max ranges ADMIT the probe (must be opened) and the row mass
    behind them, beside the total file count — the "files scanned per
    query" statistic that decides whether clustering is paying for
    itself. Probes no file admits stay visible via the LEFT join:
    zero is the best answer, not a missing row.

    Scale: the probe join runs over the MANIFEST (one row per file)
    against a 16-row literal grid — broadcast nested-loop on a
    constant build side, metadata-scale probe side; the manifest
    itself comes from the distributed zorder pass (`plans/layout.py`).
    """
    # NOTE (round 9): an eager checkpoint of the manifest was
    # A/B-tested and REJECTED (2.01 s old vs 2.21 s new min,
    # interleaved) — the two consuming branches share the position
    # helper's exchange, so ReuseExchange already dedups the zorder
    # pass and the materialization job only added cost.
    manifest = zorder_files(load_table(spark, sf_dir, "orders"))
    probes = [
        _PROBE_BASE + _PROBE_STEP * i for i in range(_PROBES_PER_DIM)
    ]
    grid = (
        spark.range(_PROBES_PER_DIM)
        .select(
            F.expr(
                f"CAST({_PROBE_BASE} + {_PROBE_STEP} * id AS BIGINT)"
            ).alias("price_b")
        )
        .crossJoin(
            spark.range(_PROBES_PER_DIM).select(
                F.expr(
                    f"CAST({_PROBE_BASE} + {_PROBE_STEP} * id AS BIGINT)"
                ).alias("day_b")
            )
        )
    )
    tot = manifest.agg(F.count(F.lit(1)).cast("long").alias("files_total"))
    admit = (
        (F.col("price_b_min") <= F.col("price_b"))
        & (F.col("price_b") <= F.col("price_b_max"))
        & (F.col("day_b_min") <= F.col("day_b"))
        & (F.col("day_b") <= F.col("day_b_max"))
    )
    return (
        grid.join(manifest, admit, "left")
        .groupBy("price_b", "day_b")
        .agg(
            F.count("file_id").cast("long").alias("files_admit"),
            F.coalesce(F.sum("n_rows"), F.lit(0))
            .cast("long")
            .alias("rows_admit"),
        )
        .crossJoin(F.broadcast(tot))
    )


# --------------------------------------------------------------------------
# right-to-be-forgotten cascade pre-flight
# --------------------------------------------------------------------------

#: deterministic deletion cohort: customers whose md5 bucket (mod 100)
#: falls below this — ~3% of the customer dimension
DELETE_COHORT_PCT = 3

_DEL_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast(c_custkey AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT) % 100"
)
_DEL_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 100"
)
#: money on the exact integer cent grid (see plans/incremental.py::_CENTS)
_O_CENTS = "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"

_DELETE_ORACLE = f"""
WITH cohort AS (
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE {_DEL_BUCKET_SQL} < {DELETE_COHORT_PCT}
),
li AS (
    SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_li
    FROM lineitem GROUP BY l_orderkey
),
cascade AS (
    SELECT cohort.c_mktsegment, cohort.c_custkey,
           o.o_orderkey, {_O_CENTS} AS cents, li.n_li
    FROM cohort
    LEFT JOIN orders o ON o.o_custkey = cohort.c_custkey
    LEFT JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT c_mktsegment,
       CAST(count(DISTINCT c_custkey) AS BIGINT)   AS n_customers,
       CAST(count(o_orderkey) AS BIGINT)           AS n_orders,
       CAST(coalesce(sum(n_li), 0) AS BIGINT)      AS n_lineitems,
       CAST(coalesce(sum(cents), 0) AS BIGINT)     AS revenue_cents
FROM cascade
GROUP BY c_mktsegment
"""


@register(
    "q_delete_cascade_audit",
    oracle=_DELETE_ORACLE,
    tags=("privacy", "gdpr", "lakehouse-ops", "join"),
)
def q_delete_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten pre-flight: a deterministic ~3% customer
    cohort (md5 bucket — in production, the actual request queue),
    cascaded through the FK chain customer → orders → lineitem, and
    reported per market segment: cohort size, orders and line items
    the purge must delete, and the exact cent revenue mass leaving the
    warehouse. This is the audit that runs (and gets signed off)
    BEFORE ``sources/warehouse.py::delete_keys`` mutates anything.

    Shape: line items are pre-aggregated to one count per order, so
    the cascade stays one row per order; LEFT joins keep zero-order
    customers in their cohort count. At scale the cohort is a
    key-shuffled join against each fact (the purge's own access
    pattern); the per-segment rollup is tiny.
    """
    cohort = (
        load_table(spark, sf_dir, "customer")
        .filter(F.expr(_DEL_BUCKET_SPARK) < DELETE_COHORT_PCT)
        .select("c_custkey", "c_mktsegment")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_li"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.expr(_O_CENTS).alias("cents")
    )
    cascade = cohort.join(
        orders, orders.o_custkey == cohort.c_custkey, "left"
    ).join(li, li.l_orderkey == F.col("o_orderkey"), "left")
    return cascade.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        F.count("o_orderkey").cast("long").alias("n_orders"),
        F.coalesce(F.sum("n_li"), F.lit(0)).cast("long").alias("n_lineitems"),
        F.coalesce(F.sum("cents"), F.lit(0))
        .cast("long")
        .alias("revenue_cents"),
    )


# --------------------------------------------------------------------------
# dataset content-version manifest
# --------------------------------------------------------------------------

#: hash partitions in the manifest (in production: the table's actual
#: partition layout)
VERSION_PARTS = 16

#: the content string each row hashes — typed columns rendered through
#: engine-agreed formats: BIGINTs print identically, money rides the
#: exact cent grid, the date through an explicit yyyy-MM-dd pattern.
#: Raw doubles are deliberately EXCLUDED from the hash input (their
#: shortest-roundtrip string rendering is not engine-portable).
_ROW_STR_SPARK = (
    "concat_ws('|', o_orderkey, o_custkey, "
    f"{_O_CENTS}, o_orderstatus, o_orderpriority, "
    "date_format(o_orderdate, 'yyyy-MM-dd'))"
)
_ROW_STR_SQL = (
    "concat_ws('|', o_orderkey, o_custkey, "
    f"{_O_CENTS}, o_orderstatus, o_orderpriority, "
    "strftime(o_orderdate, '%Y-%m-%d'))"
)

_VERSION_ORACLE = f"""
SELECT CAST(o_orderkey % {VERSION_PARTS} AS BIGINT) AS part_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5({_ROW_STR_SQL}), 1, 8)) AS BIGINT))
            AS BIGINT) AS fp_lo,
       CAST(sum(CAST(('0x' || substr(md5({_ROW_STR_SQL}), 9, 8)) AS BIGINT))
            AS BIGINT) AS fp_hi
FROM orders
GROUP BY o_orderkey % {VERSION_PARTS}
"""


@register(
    "q_dataset_version_manifest",
    oracle=_VERSION_ORACLE,
    tags=("lakehouse-ops", "versioning", "reproducibility", "audit"),
)
def q_dataset_version_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dataset version manifest: per hash partition,
    the row count and an ORDER-INSENSITIVE content fingerprint — the
    sum of each row's md5 split into two 32-bit halves, each summed as
    BIGINT. Two runs/clusters/replicas hold the same data iff their
    manifests match; a changed partition pinpoints WHERE they diverge.
    This is the reproducibility check a training-data release ships
    beside the data (Delta checksums / DVC-style content addressing)
    as one aggregate pass.

    Exactness: summing 32-bit halves keeps every partial sum far under
    BIGINT overflow (2^32 · rows-per-partition; fine past 10^9 rows per
    partition — shard the partition key before that), and integer sums
    are associative, so partial aggregation in ANY order, on any
    cluster, yields identical fingerprints. Doubles never enter the
    hash input (engine-portable renderings only).

    Scale: one map-side-combined groupBy over the fact; output is
    |partitions| rows. At 100 TB this is the cheapest full-table
    integrity pass there is.
    """
    return version_partials(load_table(spark, sf_dir, "orders"))


def version_partials(orders: DataFrame) -> DataFrame:
    """The manifest aggregate over ANY orders frame — shared by the
    catalog query and the streaming twin
    (``streaming/versioning.py``): because the fingerprints are plain
    BIGINT sums, per-micro-batch partials merged by re-summing equal
    the one-pass batch manifest BIT-identically, whatever the batch
    boundaries (pinned in tests/test_streaming_versioning.py)."""
    return (
        orders.select(
            (F.col("o_orderkey") % VERSION_PARTS).cast("long").alias("part_id"),
            F.expr(
                f"cast(conv(substring(md5({_ROW_STR_SPARK}), 1, 8), 16, 10)"
                " AS BIGINT)"
            ).alias("h_lo"),
            F.expr(
                f"cast(conv(substring(md5({_ROW_STR_SPARK}), 9, 8), 16, 10)"
                " AS BIGINT)"
            ).alias("h_hi"),
        )
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("h_lo").cast("long").alias("fp_lo"),
            F.sum("h_hi").cast("long").alias("fp_hi"),
        )
    )


# --------------------------------------------------------------------------
# incremental Z-order maintenance: the rewrite set an append implies
# --------------------------------------------------------------------------

#: deterministic append batch: ~5% of orders by md5 bucket
APPEND_PCT = 5

_APPEND_SPARK = (
    "cast(conv(substring(md5(cast(o_orderkey AS STRING)), 1, 15), 16, 10)"
    f" AS BIGINT) % 100 < {APPEND_PCT}"
)
_APPEND_SQL = (
    "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)"
    f" % 100 < {APPEND_PCT}"
)

# the base layout's file size and Morton resolution, under the names
# q_zorder_incremental_rewrite reads
_Z_FILE_ROWS = FILE_ROWS
_Z_ZBITS = ZBITS

_INC_ORACLE = f"""
WITH bounds AS (
    SELECT min(o_totalprice) AS pmin, max(o_totalprice) AS pmax,
           min(CAST(o_orderdate AS DATE)) AS dmin,
           max(CAST(o_orderdate AS DATE)) AS dmax
    FROM orders
),
coded AS (
    SELECT o_orderkey AS k,
           ({_APPEND_SQL}) AS is_append,
           CASE WHEN pmax = pmin THEN 0
                ELSE least({(1 << 8) - 1}, CAST(floor(
                    (o_totalprice - pmin) * {float(1 << 8)} / (pmax - pmin)
                ) AS BIGINT)) END AS xb,
           CAST(floor(
               date_diff('day', dmin, CAST(o_orderdate AS DATE))
               * {float(1 << 8)} / (date_diff('day', dmin, dmax) + 1)
           ) AS BIGINT) AS yb
    FROM orders, bounds
),
z AS (
    SELECT k, is_append, xb, yb, {_morton_sql("xb", "yb")} AS z FROM coded
),
manifest AS (
    SELECT file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(xb) AS price_b_min, max(xb) AS price_b_max,
           min(yb) AS day_b_min,   max(yb) AS day_b_max
    FROM (
        SELECT xb, yb,
               CAST(floor((row_number() OVER (ORDER BY z, k) - 1)
                    / {1000}) AS BIGINT) AS file_id
        FROM z WHERE NOT is_append
    )
    GROUP BY file_id
),
pts AS (
    SELECT xb, yb, CAST(count(*) AS BIGINT) AS n_new
    FROM z WHERE is_append GROUP BY xb, yb
),
expanded AS (
    SELECT m.file_id, m.n_rows, m.day_b_min, m.day_b_max,
           CAST(r.i AS BIGINT) AS price_b
    FROM manifest m JOIN range({1 << 8}) r(i)
      ON r.i BETWEEN m.price_b_min AND m.price_b_max
)
SELECT e.file_id,
       CAST(e.n_rows AS BIGINT)   AS n_rows,
       CAST(sum(p.n_new) AS BIGINT) AS n_new_points,
       CAST(count(*) AS BIGINT)     AS cells_hit
FROM expanded e
JOIN pts p ON p.xb = e.price_b
          AND p.yb BETWEEN e.day_b_min AND e.day_b_max
GROUP BY e.file_id, e.n_rows
"""


@register(
    "q_zorder_incremental_rewrite",
    oracle=_INC_ORACLE,
    tags=("layout", "zorder", "incremental", "lakehouse-ops", "planner"),
)
def q_zorder_incremental_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OPTIMIZE planning: an append batch (~5% of orders,
    md5-deterministic) arrives against a Z-ordered base layout — which
    files must be REWRITTEN to restore clustering, and how much new
    data lands in each? Both sides are bucket-coded against the FULL
    table's bounds (table stats stay fixed as data arrives — the
    `zorder_code`/`zorder_bounds` seam above), the base
    manifest is laid out over base rows only, and a file is hit when
    its (price, day) bucket rectangle contains an append point's cell.

    Scale shape: the rectangle-contains range join is decomposed into
    an EQUI join — each manifest file expands to its covered price
    buckets (≤ 256 rows per file, a constant), then joins append
    CELLS (≤ 2^16 distinct, pre-aggregated with counts) on exact
    price-bucket equality with the day range as a post-filter. No
    nested-loop over points × files: both join inputs are
    metadata-scale and the join key distributes.
    """
    full = load_table(spark, sf_dir, "orders")
    bounds = zorder_bounds(full)
    is_append = F.expr(_APPEND_SPARK)
    manifest = zorder_files(
        full.filter(~is_append), _Z_FILE_ROWS, bounds_from=full
    )
    pts = (
        zorder_code(full.filter(is_append), bounds)
        .groupBy("xb", "yb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    expanded = (
        manifest.join(
            spark.range(1 << _Z_ZBITS).select(
                F.col("id").cast("long").alias("price_b")
            ),
            (F.col("price_b") >= F.col("price_b_min"))
            & (F.col("price_b") <= F.col("price_b_max")),
        )
        .select("file_id", "n_rows", "day_b_min", "day_b_max", "price_b")
    )
    return (
        expanded.join(
            pts,
            (F.col("xb") == F.col("price_b"))
            & (F.col("yb") >= F.col("day_b_min"))
            & (F.col("yb") <= F.col("day_b_max")),
        )
        .groupBy("file_id", "n_rows")
        .agg(
            F.sum("n_new").cast("long").alias("n_new_points"),
            F.count(F.lit(1)).cast("long").alias("cells_hit"),
        )
        .select(
            "file_id",
            F.col("n_rows").cast("long").alias("n_rows"),
            "n_new_points",
            "cells_hit",
        )
    )
