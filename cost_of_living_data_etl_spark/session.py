"""SparkSession factory.

Replaces the reference's env-var + client soup (reference app.py:117-132)
with one explicit, test-injectable builder. Defaults are tuned for the
local[32] test harness but every knob matters at cluster scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion — the main line of defense when a
  plan meets 100 TB of skewed real data.
- Arrow on: any unavoidable pandas_udf / applyInPandas moves columnar
  batches, not pickled rows.
- shuffle.partitions: small for local tests; on a real cluster this is
  set to ~2-3x total cores (or left to AQE's coalescing with a high
  initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cost-of-living-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # spark.sql.join.preferSortMergeJoin=false was A/B'd and
        # REJECTED as a no-op here:
        # the catalog's non-broadcast joins are size-SYMMETRIC self-
        # joins, so SHJ's muchSmaller(3×) condition never fires — the
        # executed post-AQE plans are byte-identical modulo expr ids
        # (plans/r10/*_executed_{smj,shj}.txt) and an order-ALTERNATING
        # interleaved A/B is flat (setsim 2.88/2.88 s min). A first
        # fixed-order A/B had shown −10-20% "wins" that turned out to
        # be measurement position bias; full-catalog bit-parity under
        # the flag (318/318 at sf0.01) is recorded in OPTIMIZATION_r10
        # should a future asymmetric join want it.
        # --- python interop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: 128MB splits keep partitions memory-safe at scale ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- session timezone pinned for deterministic date/ts semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
