"""``until_settled``: the one stop rule of the iterative plans. It returns
the first state whose unsettled count reads 0, runs no step on a settled
or empty start, raises at its round cap, and runs no step in a
plan-only pass."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cost_of_living_data_etl_spark.functions.checkpoints import until_settled


def _countdown(spark, ns):
    return spark.createDataFrame([(n,) for n in ns], "n long")


def _run(start, max_rounds):
    """Count-down rows: each step lowers every n by one, floored at 0;
    the frame is settled when every n is 0, so max(n) steps settle it.
    Returns (settled frame, number of step calls)."""
    calls = []

    def step(df):
        calls.append(df)
        return df.select(F.greatest(F.col("n") - 1, F.lit(0)).alias("n"))

    unsettled = F.count(F.when(F.col("n") > 0, True))
    out = until_settled(start, step, unsettled, max_rounds, "countdown did not settle")
    return out, len(calls)


def test_stops_on_first_settled_round(spark):
    out, steps = _run(_countdown(spark, [0, 1, 2, 3]), max_rounds=10)
    assert steps == 3
    assert sorted(r["n"] for r in out.collect()) == [0, 0, 0, 0]


def test_settles_on_exactly_max_rounds(spark):
    out, steps = _run(_countdown(spark, [3, 1]), max_rounds=3)
    assert steps == 3
    assert [r["n"] for r in out.collect()] == [0, 0]


def test_no_step_when_start_is_settled(spark):
    out, steps = _run(_countdown(spark, [0, 0]), max_rounds=5)
    assert steps == 0
    assert out.count() == 2


def test_no_step_when_start_is_empty(spark):
    out, steps = _run(_countdown(spark, []), max_rounds=5)
    assert steps == 0
    assert out.count() == 0


def test_raises_when_max_rounds_is_too_small(spark):
    with pytest.raises(RuntimeError, match="countdown did not settle"):
        _run(_countdown(spark, [0, 4]), max_rounds=3)


def test_plan_only_pass_runs_no_step_and_no_job(spark, monkeypatch):
    """Lazy checkpoints observe no rows, so the count reads 0: the
    builder returns without stepping and without a Spark job (AQE off,
    as a plan-only pass sets it)."""
    start = _countdown(spark, [2, 5])
    tracker = spark.sparkContext.statusTracker()
    monkeypatch.setenv("SPARK_GRAFT_PLAN_ONLY", "1")
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs_before = len(tracker.getJobIdsForGroup() or [])
        _, steps = _run(start, max_rounds=1)
        jobs_after = len(tracker.getJobIdsForGroup() or [])
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    assert steps == 0
    assert jobs_after == jobs_before
