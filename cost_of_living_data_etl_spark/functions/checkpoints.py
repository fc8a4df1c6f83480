"""Shared localCheckpoint discipline.

Several plans materialize a bounded intermediate with an EAGER
``localCheckpoint()`` — the persist idiom for frames consumed many
times (dedup signature tables, MMR pool similarities, EM pattern
tables) or whose expression tree would otherwise re-inline past
codegen limits (winnowing fingerprints). Eager means the Spark job
runs at PLAN-BUILD time — correct for query execution, but it made
``bench.py --changed-only``'s selection pass (which only builds every
plan to fingerprint it) execute near-full-scale jobs for those queries
before the timed loop (ADVICE r06).

``eager_checkpoint`` keeps the eager default and degrades to a LAZY
checkpoint when the ``SPARK_GRAFT_PLAN_ONLY`` env marks a
fingerprint-only pass. Lazy is semantics-free: the checkpoint
materializes on the frame's first action and stays materialized, and
the ANALYZED logical plan is the same ``LogicalRDD`` node in both
modes (pinned by tests/test_bench_fingerprint.py), so plan
fingerprints cannot drift between a plan-only selection pass and a
timed run.

Caveat a plan-only caller must honor: under AQE, creating even a lazy
checkpoint materializes the upstream query stages (AdaptiveSparkPlan
executes exchanges when the wrapped RDD is built), so the pass must
also set ``spark.sql.adaptive.enabled=false`` for its duration —
bench.py's selection pass and tools/plan_audit.py both do. A lazy
checkpoint created with AQE off still computes correctly when later
actioned with AQE back on.

``until_settled`` is the one stopping rule for the iterative plans
built on these checkpoints: run rounds until an exact "unsettled" count
reads 0, and raise at a round cap instead of returning an unconverged
state.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

PLAN_ONLY_ENV = "SPARK_GRAFT_PLAN_ONLY"


def plan_only() -> bool:
    """True inside a fingerprint/plan-audit pass that must not run
    Spark jobs while building plans."""
    return os.environ.get(PLAN_ONLY_ENV, "") not in ("", "0")


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager), except during a plan-only
    pass, where the checkpoint is registered lazily instead — no job
    at build time, identical analyzed plan, materialization deferred
    to the first action. Use via ``.transform(eager_checkpoint)``."""
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
