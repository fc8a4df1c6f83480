"""``run_concurrently``: results in argument order, the caller's Spark
local properties inside every thunk (each thread with its own copy),
all thunks finished before the first error is re-raised — and no other
module in the package creates threads."""

from __future__ import annotations

import re
import threading
import time
from pathlib import Path

import pytest

from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently

PACKAGE = Path(__file__).resolve().parent.parent / "cost_of_living_data_etl_spark"


def test_results_in_argument_order(spark):
    # all three must be running at once to pass the barrier; the first
    # one finishes last
    barrier = threading.Barrier(3, timeout=30)

    def thunk(i: int):
        def run():
            barrier.wait()
            time.sleep(0.1 * (2 - i))
            return i

        return run

    assert run_concurrently(thunk(0), thunk(1), thunk(2)) == [0, 1, 2]


def test_zero_thunks_return_empty_list():
    assert run_concurrently() == []


def test_local_properties_reach_every_thunk(spark):
    sc = spark.sparkContext
    group = "test-run-concurrently"
    sc.setLocalProperty("test.concurrent.tag", "caller")
    sc.setJobGroup(group, "run_concurrently inheritance")

    def probe():
        return sc.getLocalProperty("test.concurrent.tag"), spark.range(10).count()

    def nested():
        # a worker thread has no active session of its own
        return run_concurrently(probe)[0]

    try:
        seen = run_concurrently(probe, nested)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in (
            "test.concurrent.tag",
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert seen == [("caller", 10), ("caller", 10)]
    # the jobs the worker threads submitted carry the caller's job group
    assert len(jobs) >= 2


def test_local_properties_stay_in_their_thread(spark):
    # Spark SQL writes execution ids and propagated SQL confs into the
    # thread's local properties while a query runs; a sibling thread
    # must not see (or lose) them
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=30)

    def sets():
        sc.setLocalProperty("test.concurrent.own", "sets")
        barrier.wait()
        return sc.getLocalProperty("test.concurrent.own")

    def reads():
        barrier.wait()
        return sc.getLocalProperty("test.concurrent.own")

    assert run_concurrently(sets, reads) == ["sets", None]
    assert sc.getLocalProperty("test.concurrent.own") is None


def test_first_error_reraised_after_all_thunks_finish(spark):
    finished = []

    def slow():
        time.sleep(0.5)
        finished.append("slow")
        return "slow"

    def fails_late():
        time.sleep(0.2)
        raise ValueError("second")

    def fails_first():
        raise KeyError("first")

    with pytest.raises(KeyError, match="first"):
        run_concurrently(fails_first, slow, fails_late)
    # the error surfaced only once the slow sibling had completed
    assert finished == ["slow"]


def test_no_thread_pools_outside_the_helper():
    """Threads in the package go through ``run_concurrently``, so every
    job they submit inherits its query's job group."""
    helper = PACKAGE / "functions" / "concurrent.py"
    pattern = re.compile(
        r"ThreadPoolExecutor"
        r"|\bthreading\.Thread\b"
        r"|from threading import[^\n]*\bThread\b"
    )
    offenders = [
        f"{p.relative_to(PACKAGE)}:{n}"
        for p in PACKAGE.rglob("*.py")
        if p != helper and "vendor" not in p.relative_to(PACKAGE).parts
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders
