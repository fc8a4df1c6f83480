"""Shared localCheckpoint discipline.

Several plans materialize a bounded intermediate with an EAGER
``localCheckpoint()`` — the persist idiom for frames consumed many
times (dedup signature tables, MMR pool similarities, EM pattern
tables) or whose expression tree would otherwise re-inline past
codegen limits (winnowing fingerprints). Eager means the Spark job
runs at PLAN-BUILD time: correct for query execution, but a pass that
only builds plans to inspect them (``bench.py --changed-only``'s
fingerprint selection, tools/plan_audit.py) would run near-full-scale
jobs for those queries.

``eager_checkpoint`` keeps the eager default and degrades to a LAZY
checkpoint inside ``plan_only_pass(spark)``. Lazy is semantics-free:
the checkpoint materializes on the frame's first action and stays
materialized, and the ANALYZED logical plan is the same ``LogicalRDD``
node in both modes (pinned by tests/test_bench_fingerprint.py), so plan
fingerprints cannot drift between a plan-only pass and a timed run.

The pass also turns AQE off for its duration: under AQE, creating even
a lazy checkpoint materializes the upstream query stages
(AdaptiveSparkPlan executes exchanges when the wrapped RDD is built).
A lazy checkpoint created with AQE off still computes correctly when
later actioned with AQE back on.

``until_settled`` is the one stopping rule for the iterative plans
built on these checkpoints: run rounds until an exact "unsettled" count
reads 0, and raise at a round cap instead of returning an unconverged
state.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession

# A plain module global, not a ContextVar or thread-local: plan builders
# run eager_checkpoint in run_concurrently worker threads too, and those
# must see the pass their caller opened.
_plan_only = False


def plan_only() -> bool:
    """True inside ``plan_only_pass``: plans are being built to be
    inspected, and building them must not run Spark jobs."""
    return _plan_only


@contextmanager
def plan_only_pass(spark: SparkSession) -> Iterator[None]:
    """Build plans without running their eager checkpoints.

    For the body's duration ``plan_only()`` reads True and
    ``spark.sql.adaptive.enabled`` is false; both are restored on exit,
    also when the body raises. Frames built inside stay usable after
    the pass: their checkpoints materialize on the first action."""
    global _plan_only
    prev_flag = _plan_only
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    _plan_only = True
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        _plan_only = prev_flag
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager), except inside
    ``plan_only_pass``, where the checkpoint is registered lazily
    instead — no job at build time, identical analyzed plan,
    materialization deferred to the first action. Use via
    ``.transform(eager_checkpoint)``."""
    return df.localCheckpoint(eager=not plan_only())


def until_settled(
    start: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    unsettled: Column,
    max_rounds: int,
    error: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` from ``start`` until settled.

    ``start`` and every ``step(state)`` are checkpointed through
    ``eager_checkpoint``; that same job observes ``unsettled``, an
    aggregate over the frame's rows (a count of the rows that are not
    yet final), so the convergence test costs no extra job. Returns the
    first state that reads 0, after at most ``max_rounds`` steps;
    raises ``RuntimeError(error)`` if ``max_rounds`` steps leave it
    unsettled. The count must be exact: reading 0 has to mean that
    another step would change nothing.

    In a plan-only pass the checkpoints are lazy and observe no rows,
    so the count reads 0 and no step runs: the analyzed plan keeps the
    same shape.

    Loops with a fixed round count that their oracle pins and no
    settled test (PageRank, Lloyd, PQ, IRLS, PCA, EM) do not use this:
    there is nothing for it to stop early or to check.
    """

    def settle(df: DataFrame) -> tuple[DataFrame, Observation]:
        obs = Observation()
        df = df.observe(obs, unsettled.alias("unsettled"))
        return df.transform(eager_checkpoint), obs

    state, obs = settle(start)
    rounds = 0
    while obs.get["unsettled"]:
        if rounds == max_rounds:
            raise RuntimeError(error)
        state, obs = settle(step(state))
        rounds += 1
    return state
