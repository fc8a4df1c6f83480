"""Streaming dedup-at-ingest: near-dup pair mining as documents arrive.

The streaming half of the persisted-signature pattern
(`operators/dedup.py::minhash_signatures` — the ~100 B/doc table every
near-dup consumer reads instead of re-shingling text): each micro-batch

1. computes its OWN signature table and lands it under
   ``{root}/sigs/batch_id=N`` (idempotent overwrite — a crash-replayed
   batch replaces, never duplicates; same contract as the HLL register
   sink in streaming/sketches.py), then
2. mines ONLY the pairs touching the new batch — band-join of
   (all prior signatures ∪ this batch) restricted with
   ``touching_only`` — and lands them under ``{root}/pairs/batch_id=N``.

Prior-batch-internal pairs are never recomputed, so total mining work
across the stream's life is the SAME band-join volume the one-shot
batch run pays, just paid incrementally. With ``max_bucket=None`` the
union of all per-batch pair partitions equals the full-corpus mining
EXACTLY (pinned by test). With ``max_bucket`` set the equality is
deliberately one-sided: the cap is re-evaluated on the cumulative
signature set each batch, so pairs mined while a bucket was still
under the cap are KEPT even after later arrivals push that bucket
over it (the one-shot run would drop the whole bucket). That is the
intended at-the-door semantics — a pair already emitted to downstream
consumers cannot be un-emitted — so capped streaming output is a
SUPERSET of capped one-shot output, never a subset of the uncapped
one (also pinned by test). At 100 TB/day this is dedup-at-the-door: a new crawl slice is
checked against the whole historical corpus by joining 16-hash
signatures on short band keys — document text never leaves the scan
stage, and the historical side is the persisted signature table, not
the corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.operators.dedup import (
    minhash_signatures,
    neardup_pairs_from_sigs,
)


def ingest_dedup_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    root: str,
    batch_id: int,
    max_bucket: int | None = None,
) -> None:
    """Process one micro-batch: persist its signatures, mine pairs
    touching it. Factored out of the foreachBatch closure so replay
    semantics are directly testable (calling this twice with the same
    ``batch_id`` must leave both tables unchanged)."""
    sigs = minhash_signatures(batch_docs.select("doc_id", "text"))
    sigs.write.mode("overwrite").parquet(f"{root}/sigs/batch_id={batch_id}")
    allsigs = spark.read.parquet(f"{root}/sigs")
    prior = allsigs.filter(F.col("batch_id") < batch_id).drop("batch_id")
    new = allsigs.filter(F.col("batch_id") == batch_id).drop("batch_id")
    combined = prior.withColumn("is_new", F.lit(False)).unionByName(
        new.withColumn("is_new", F.lit(True))
    )
    pairs = neardup_pairs_from_sigs(
        combined, max_bucket=max_bucket, touching_only="is_new"
    )
    pairs.write.mode("overwrite").parquet(f"{root}/pairs/batch_id={batch_id}")


def dedup_ingest_sink(
    docs_stream: DataFrame,
    root: str,
    checkpoint: str,
    max_bucket: int | None = None,
):
    """foreachBatch writer: dedup-at-ingest over a documents stream
    (needs ``doc_id`` and ``text`` columns). Start with
    ``.trigger(...)``/``.start()``; read results back with
    ``read_ingested_pairs``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(
            batch_df.sparkSession, batch_df, root, batch_id, max_bucket
        )

    return (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def read_ingested_pairs(spark: SparkSession, root: str) -> DataFrame:
    """All near-dup pairs mined so far (union of per-batch partitions;
    each pair appears exactly once — a cross-batch pair is mined only
    when its LATER side arrives)."""
    return spark.read.parquet(f"{root}/pairs").drop("batch_id")
