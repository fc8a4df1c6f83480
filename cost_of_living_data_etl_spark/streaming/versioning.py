"""Streaming maintenance of the dataset content-version manifest.

The batch manifest (`plans/layout.py::q_dataset_version_manifest`) is
per-partition ``(n_rows, fp_lo, fp_hi)`` where the fingerprints are
BIGINT sums of per-row md5 halves. Integer sums are associative and
commutative, so the manifest is a perfect mergeable streaming state:
each micro-batch reduces to its OWN partial manifest (≤ VERSION_PARTS
rows regardless of batch size) written to a ``batch_id=N`` partition,
and the live manifest is the re-sum of whatever partials have arrived.

Same contract as `streaming/sketches.py`:

* exactly-once under replay — batch N overwrites its own partition, a
  crash-replayed batch replaces rather than duplicates;
* stream-maintained ≡ one-pass batch manifest BIT-identically,
  regardless of how the stream was chopped into batches (pinned in
  tests/test_streaming_versioning.py);
* no state store — the "state" is the append-only partials table,
  bounded by batches × VERSION_PARTS rows. At 100 TB/day of ingest the
  release-time integrity check is a metadata-scale re-sum, never a
  re-read of raw data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.plans.layout import version_partials


def read_orders_stream(
    spark: SparkSession, orders_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over an orders parquet directory; schema
    pinned from a batch read of the same path (the standard file-stream
    bootstrap — streaming sources require an explicit schema)."""
    schema = spark.read.parquet(orders_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(orders_dir)
    )


def version_manifest_sink(
    stream: DataFrame, manifest_root: str, checkpoint: str
):
    """foreachBatch sink reducing each micro-batch to its partial
    manifest under ``{manifest_root}/batch_id=N`` (idempotent
    overwrite per batch)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        version_partials(batch_df).write.mode("overwrite").parquet(
            f"{manifest_root}/batch_id={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def read_version_manifest(spark: SparkSession, manifest_root: str) -> DataFrame:
    """Merge all landed partial manifests into the live manifest —
    plain re-sums, so the result is bit-identical to the one-pass batch
    manifest over the union of everything ingested so far."""
    return (
        spark.read.parquet(manifest_root)
        .groupBy("part_id")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("fp_lo").cast("long").alias("fp_lo"),
            F.sum("fp_hi").cast("long").alias("fp_hi"),
        )
    )
