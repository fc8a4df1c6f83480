"""Stream-maintained version manifest equals the batch manifest
bit-for-bit.

The property under test is the manifest's whole design claim: its
fingerprints are plain BIGINT sums, so per-micro-batch partials merged
by re-summing must equal the one-pass batch manifest over the union of
all input EXACTLY — however the stream was chopped into batches."""

from __future__ import annotations

import shutil

import pytest

from cost_of_living_data_etl_spark.plans.layout import version_partials
from cost_of_living_data_etl_spark.streaming.versioning import (
    read_orders_stream,
    read_version_manifest,
    version_manifest_sink,
)
from conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


@pytest.fixture()
def split_orders_dir(tmp_path):
    """Two orders files so availableNow + maxFilesPerTrigger=1 yields
    at least two micro-batches (the second file duplicates the first —
    counts and fingerprint sums must double, exactly like re-ingesting
    the same data twice would)."""
    d = tmp_path / "orders_stream"
    d.mkdir()
    shutil.copy(f"{SF}/orders.parquet", d / "a.parquet")
    shutil.copy(f"{SF}/orders.parquet", d / "b.parquet")
    return str(d)


def _rows(df):
    return {
        r["part_id"]: (r["n_rows"], r["fp_lo"], r["fp_hi"])
        for r in df.collect()
    }


def test_stream_maintained_manifest_equals_batch(
    spark, tmp_path, split_orders_dir
):
    stream = read_orders_stream(
        spark, split_orders_dir, max_files_per_trigger=1
    )
    q = (
        version_manifest_sink(
            stream, str(tmp_path / "manifest"), str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    partials = spark.read.parquet(str(tmp_path / "manifest"))
    assert partials.select("batch_id").distinct().count() >= 2

    got = _rows(read_version_manifest(spark, str(tmp_path / "manifest")))
    want = _rows(version_partials(spark.read.parquet(split_orders_dir)))
    assert got == want  # bit-identical, not approximately

    # the doubled input doubles every count and fingerprint vs one copy
    single = _rows(version_partials(spark.read.parquet(f"{SF}/orders.parquet")))
    assert got == {
        p: (2 * n, 2 * lo, 2 * hi) for p, (n, lo, hi) in single.items()
    }
