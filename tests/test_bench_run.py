"""bench.py's run-once contract (``time_once``) and its command line,
which rejects an unknown flag before any Spark session starts."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

import bench


def test_time_once_returns_built_frame_and_clears_cache(spark):
    built = []

    def fn(spark, sf_dir):
        shared = spark.range(100).persist()
        shared.count()
        df = shared.selectExpr("id * 2 AS x")
        built.append((shared, df))
        return df

    seconds, df = bench.time_once(spark, fn, "unused")
    shared, returned = built[0]
    assert df is returned
    assert seconds > 0
    assert shared.storageLevel == StorageLevel.NONE


def test_unknown_flag_exits_before_session(monkeypatch):
    def no_session(*args, **kwargs):
        raise AssertionError("bench.main started a Spark session")

    monkeypatch.setattr(bench, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        bench.main(["--changed-onyl"])
    assert exc.value.code == 2
