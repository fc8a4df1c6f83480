"""Run independent driver-side actions at the same time.

Spark schedules jobs submitted from several driver threads side by side,
so actions that do not depend on each other can share the executor cores
instead of each waiting at its own job barrier. A small job (a 2-task
append, a collect over a checkpointed table) leaves most cores idle;
submitting its independent siblings at once fills them.

``run_concurrently`` is the one way the engine does this. Each thunk is
wrapped with ``pyspark.inheritable_thread_target`` in the caller's
thread, so the job group, job description and other local properties
(and the session's job tags) the caller set reach the jobs the thunk
submits, and every job stays attributable to the query that launched
it. Each thunk gets its own copy of those properties: what one thread
sets there, or what Spark SQL sets there while it runs a query, stays
in that thread. Worker threads end when the call returns, so their
paired JVM threads do not accumulate over a long session.

This module is the only place in the package that creates threads;
``tests/test_concurrent.py`` enforces that.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_concurrently(*thunks: Callable[[], Any]) -> list:
    """Call every thunk at once, one thread each, and return their
    results in argument order.

    Every thunk runs to completion, even when another one raises; then
    the exception of the first failing thunk, in argument order, is
    re-raised. Side effects of the thunks that succeeded are kept.
    """
    if not thunks:
        return []
    session = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    # one inheritable_thread_target call per thunk: each call clones the
    # caller's local properties once, and Spark SQL writes execution ids
    # and propagated SQL confs into that object while a query runs, so
    # threads that shared one clone would overwrite each other's
    thunks = tuple(inheritable_thread_target(session)(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    # leaving the pool waited for every thunk; result() re-raises
    return [f.result() for f in futures]
