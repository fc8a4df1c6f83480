"""``until_settled``: the one stop rule of the iterative plans. It returns
the first state whose unsettled count reads 0, runs no step on a settled
or empty start, raises at its round cap, and runs no step in a
plan-only pass. ``plan_only_pass`` restores what it sets, also when its
body raises, and reaches ``run_concurrently`` worker threads."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cost_of_living_data_etl_spark.functions.checkpoints import (
    plan_only,
    plan_only_pass,
    until_settled,
)
from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently


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


def test_plan_only_pass_runs_no_step_and_no_job(spark):
    """Lazy checkpoints observe no rows, so the count reads 0: the
    builder returns without stepping and without a Spark job."""
    start = _countdown(spark, [2, 5])
    tracker = spark.sparkContext.statusTracker()
    with plan_only_pass(spark):
        jobs_before = len(tracker.getJobIdsForGroup() or [])
        _, steps = _run(start, max_rounds=1)
        jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert steps == 0
    assert jobs_after == jobs_before


def test_plan_only_pass_restores_when_body_raises(spark):
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(ValueError, match="body failed"):
        with plan_only_pass(spark):
            assert plan_only()
            raise ValueError("body failed")
    assert not plan_only()
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_prev


def test_plan_only_pass_reaches_run_concurrently_workers(spark):
    """Plan builders checkpoint inside run_concurrently threads too; a
    per-thread or per-context flag would read False there."""
    with plan_only_pass(spark):
        assert run_concurrently(plan_only, plan_only) == [True, True]
    assert run_concurrently(plan_only) == [False]
