"""No catalog query may plan an unpartitioned (single-task) window
over a data-scaled frame.

An unpartitioned Window forces ``Exchange SinglePartition``: one task
sorts and scans the entire frame, which is invisible at sf0.01 and
fatal at 100 TB (the round-6 verdict's "scale-killer" class). The
detector lives in tools/plan_audit.py (``gwin`` column); queries whose
global windows run over PROVABLY bounded frames (calendar rollups,
LITERAL-limited candidate lists, fixed bin grids) are enumerated —
with their bound — in ``GLOBAL_WINDOW_BOUNDED_OK``.

Two-sided enforcement: a query with a global window missing from the
allowlist fails (new scale-killers can't land), and an allowlist entry
whose query no longer emits a global window fails (the list can't
rot). A seeded offender pins the detector itself.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from plan_audit import (  # noqa: E402
    GLOBAL_WINDOW_BOUNDED_OK,
    count_global_windows,
)

from cost_of_living_data_etl_spark.functions.checkpoints import (  # noqa: E402
    plan_only_pass,
)
from cost_of_living_data_etl_spark.plans import catalog  # noqa: E402

SPECS = sorted(catalog().values(), key=lambda s: s.name)


def test_detector_fires_on_seeded_offenders(spark):
    df = spark.range(100).select("id", (F.col("id") % 5).alias("g"))
    ranked = df.select(F.row_number().over(Window.orderBy("id")).alias("rn"))
    assert count_global_windows(ranked) == 1
    cum = df.select(
        F.sum("id")
        .over(Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0))
        .alias("c")
    )
    assert count_global_windows(cum) == 1
    topk = df.select(
        "id", F.row_number().over(Window.orderBy("id")).alias("rn")
    ).filter("rn <= 3")
    assert count_global_windows(topk) >= 1


def test_detector_clean_on_partitioned_and_unordered_shapes(spark):
    df = spark.range(100).select("id", (F.col("id") % 5).alias("g"))
    part = df.select(
        F.row_number().over(Window.partitionBy("g").orderBy("id")).alias("rn")
    )
    assert count_global_windows(part) == 0
    # partitioned window with NO order spec prints only 2 bracket
    # groups — must not be mistaken for a global ordered window
    noorder = df.select(F.max("id").over(Window.partitionBy("g")).alias("m"))
    assert count_global_windows(noorder) == 0
    # partitioned top-k (WindowGroupLimit with partition spec)
    ptopk = df.select(
        "g",
        F.row_number().over(Window.partitionBy("g").orderBy("id")).alias("rn"),
    ).filter("rn <= 2")
    assert count_global_windows(ptopk) == 0


@pytest.fixture
def _plan_only(spark):
    """Plan-only pass (functions/checkpoints.py): lazy checkpoints + AQE
    off, so building every catalog plan runs no data-scale jobs. The
    Window census is unaffected (identical analyzed plans)."""
    with plan_only_pass(spark):
        yield


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_no_unbounded_global_window(spark, sf_smoke, spec, _plan_only):
    gwin = count_global_windows(spec.fn(spark, sf_smoke))
    if spec.name in GLOBAL_WINDOW_BOUNDED_OK:
        assert gwin > 0, (
            f"{spec.name} is allowlisted in GLOBAL_WINDOW_BOUNDED_OK but no "
            "longer plans a global window — remove the stale entry"
        )
    else:
        assert gwin == 0, (
            f"{spec.name} plans {gwin} unpartitioned Window operator(s): a "
            "single task would scan its whole frame at scale. Rewrite it on "
            "operators/distributed_rank.py, or — ONLY if the frame is "
            "provably bounded — add it to GLOBAL_WINDOW_BOUNDED_OK with the "
            "bound."
        )


def test_allowlist_has_no_unknown_queries():
    names = {s.name for s in SPECS}
    unknown = set(GLOBAL_WINDOW_BOUNDED_OK) - names
    assert not unknown, f"allowlist names not in catalog: {sorted(unknown)}"
