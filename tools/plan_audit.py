"""Generate PLAN_AUDIT.md: physical-plan fingerprints for the bench
headline queries.

For each query: counts of shuffle exchanges, join strategies,
whole-stage-codegen spans, and whether the parquet scans carry pushed
filters — the at-a-glance evidence that plans are shaped the way the
100 TB design notes (SCALE.md) claim. Run after plan-affecting
changes:

    python tools/plan_audit.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from cost_of_living_data_etl_spark.functions.checkpoints import (  # noqa: E402
    plan_only_pass,
)
from cost_of_living_data_etl_spark.plans.catalog import catalog  # noqa: E402
from cost_of_living_data_etl_spark.session import get_spark  # noqa: E402

import os

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _audit_names() -> list[str]:
    """The ENTIRE catalog, in registration order: the order bench.py
    runs it in, read from the same source, so the two cannot disagree.
    (bench.HEADLINE is filled only inside bench.main(), so importing it
    here would see an empty list.)"""
    return list(catalog())


def _top_level_group_texts(s: str) -> list[str]:
    """Texts of the top-level ``[...]`` groups in a plan line fragment."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


_WINDOW_LINE = re.compile(r"(?:^|[\s\-+:])(Window|WindowGroupLimit)\s+\[")
_ORDER_SPEC = re.compile(r"\b(ASC|DESC)\b")


def _window_line_is_global(node: str, groups: list[str]) -> bool:
    """'simple'-mode shapes:
    Window [exprs], [part], [ord]      -> partitioned          (3 groups)
    Window [exprs], [ord]              -> GLOBAL, ordered       (2, last is ASC/DESC)
    Window [exprs], [part]             -> partitioned, no order (2, last not ASC/DESC)
    Window [exprs]                     -> GLOBAL, no order      (1)
    WindowGroupLimit [part], [ord], .. -> partitioned           (2)
    WindowGroupLimit [ord], ..         -> GLOBAL                (1)
    """
    if node == "WindowGroupLimit":
        return len(groups) < 2
    if len(groups) >= 3:
        return False
    if len(groups) <= 1:
        return True
    return bool(_ORDER_SPEC.search(groups[-1]))


def count_global_windows_in_plan(simple_plan: str) -> int:
    """Number of Window / WindowGroupLimit operators with NO partition
    spec in a 'simple'-mode physical plan string. Spark executes these
    as ``Exchange SinglePartition`` + a single task scanning the whole
    frame — the #1 hidden scale-killer (see
    operators/distributed_rank.py for the distributed replacement)."""
    hits = 0
    for line in simple_plan.splitlines():
        m = _WINDOW_LINE.search(line)
        if not m:
            continue
        groups = _top_level_group_texts(line[m.end() - 1 :])
        if _window_line_is_global(m.group(1), groups):
            hits += 1
    return hits


def count_global_windows(df) -> int:
    """Detector entry point for a DataFrame (used by tests)."""
    simple = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    return count_global_windows_in_plan(simple)


#: Queries whose remaining global (unpartitioned) windows are over
#: PROVABLY BOUNDED frames — the window input is an aggregate whose
#: cardinality is fixed by a literal, a calendar, or a rate, not by
#: data volume, so the single task the window forces never sees more
#: than that bound no matter the corpus size. Every entry carries its
#: bound; tests/test_global_window_audit.py fails on any query with a
#: global window NOT in this dict, and on any STALE entry (listed but
#: no longer emitting one), so the list cannot rot in either
#: direction. Anything data-scaled is rewritten onto
#: operators/distributed_rank.py instead.
GLOBAL_WINDOW_BOUNDED_OK: dict[str, str] = {
    # -- calendar-bounded daily/monthly rollups (|days| ~ thousands
    #    over a decade, invariant in corpus size) --
    "q_window_trailing_7d_revenue": "daily revenue rollup",
    "q_revenue_anomaly_days": "daily revenue rollup",
    "q_seasonal_decompose_revenue": "daily revenue rollup",
    "q_seasonal_adjusted_anomalies": "daily revenue rollup",
    "q_seasonal_naive_mase": "daily revenue rollup",
    "q_cusum_changepoint_revenue": "daily revenue rollup",
    "q_ewma_daily_revenue": "daily revenue rollup",
    "q_rolling_zscore_anomaly_days": "daily revenue rollup",
    "q_acf_daily_revenue": "daily revenue rollup",
    "q_ts_strength_revenue": "daily revenue rollup",
    "q_mad_robust_outlier_days": "daily revenue rollup",
    "q_sprt_ab_daily": "daily per-arm rollup",
    "q_segmented_regression_break": "daily revenue rollup",
    "q_pareto_frontier_days": "daily (day, min price) rollup",
    "q_running_distinct_customers": "monthly first-order rollup",
    "q_km_survival_conversion": "integral-day duration rollup",
    "q_mcf_repeat_purchases": "integral-day age rollup",
    # -- literal-bounded frames --
    "q_hybrid_rrf_retrieval": "two LIMIT-50 candidate lists",
    "q_zipf_exponent": "LIMIT-500 vocabulary head",
    "q_bootstrap_ci_mean": "BOOT_R = 100 replicate stats",
    "q_bootstrap_ci_uplift": "BOOT_R = 100 replicate stats",
    "q_isotonic_calibration_quality_dup": "ISO_BINS = 20 bin grid",
    # -- domain/rate-bounded frames --
    "q_bh_fdr_event_tests": "event-type-bounded hypothesis rollup",
    "q_interval_overlap_sessions_bursts": (
        "error-event islands (rate-bounded; shard by coarse time if "
        "errors themselves reach data scale — see docstring)"
    ),
}


def fingerprint(df) -> dict[str, object]:
    jmode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    simple = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    return {
        "shuffles": simple.count("Exchange hashpartitioning")
        + simple.count("Exchange rangepartitioning"),
        "bhj": simple.count("BroadcastHashJoin"),
        "smj": simple.count("SortMergeJoin"),
        "bnlj": simple.count("BroadcastNestedLoopJoin"),
        # simple mode marks codegen'd operators with "*(N)"; count
        # distinct span ids
        "wsc": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "pushed": "PushedFilters: [" in plan
        and not all(
            m.strip() == "PushedFilters: []"
            for m in re.findall(r"PushedFilters: \[[^\]]*\]", plan)
        ),
        # BatchEvalPythonUDTF is the DECLARED Python-table-function
        # operator (§2.6 UDTF capability) — only scalar BatchEvalPython
        # (a hot-path expression silently falling off the JVM) is the
        # anti-pattern the py flag polices
        "python": bool(
            re.search(r"BatchEvalPython(?!UDTF)", simple)
        ),
        "arrow": ("ArrowEvalPython" in simple)
        or ("MapInPandas" in simple)
        or ("FlatMapGroupsInPandas" in simple)
        or ("FlatMapCoGroupsInPandas" in simple),
        # unpartitioned Window/WindowGroupLimit operators: each one is
        # an Exchange SinglePartition + one task scanning the whole
        # frame. Allowed ONLY for the bounded frames enumerated in
        # GLOBAL_WINDOW_BOUNDED_OK.
        "gwin": count_global_windows_in_plan(simple),
    }


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    cat = catalog()
    lines = [
        "# PLAN_AUDIT — physical-plan fingerprints (generated by tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{SF_DIR}` · shuffle counts exclude broadcast exchanges ·",
        "`codegen` = distinct WholeStageCodegen spans · `pushed` = any parquet scan",
        "carries a non-empty PushedFilters · `py` = SCALAR row-wise Python in the",
        "plan (MUST be false everywhere; the declared §2.6 Python-UDTF operator",
        "`BatchEvalPythonUDTF` in q_udtf_sentences is not a fallback and is",
        "excluded) · `arrow` = Arrow-batched Python stage present · `gwin` =",
        "unpartitioned (single-task) Window operators — MUST be 0 except for",
        "the bounded frames in GLOBAL_WINDOW_BOUNDED_OK (shown as `N (bounded:",
        "<why>)`), enforced by tests/test_global_window_audit.py.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | codegen | pushed | py | arrow | gwin |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    names = _audit_names()
    # A plan-only pass: eager checkpoints degrade to lazy, so building
    # every catalog plan runs no data-scale jobs (analyzed plans are
    # identical; functions/checkpoints.py). Its AQE-off also makes the
    # audit read the static plan, whose codegen span markers
    # AdaptiveSparkPlan would hide (production runs keep AQE on —
    # session.py).
    with plan_only_pass(spark):
        for name in names:
            fp = fingerprint(cat[name].fn(spark, SF_DIR))
            if fp["gwin"] and name in GLOBAL_WINDOW_BOUNDED_OK:
                gwin = f"{fp['gwin']} (bounded: {GLOBAL_WINDOW_BOUNDED_OK[name]})"
            else:
                gwin = str(fp["gwin"])
            lines.append(
                f"| {name} | {fp['shuffles']} | {fp['bhj']} | {fp['smj']} "
                f"| {fp['wsc']} | {'✓' if fp['pushed'] else '–'} "
                f"| {'✗PY' if fp['python'] else 'no'} "
                f"| {'✓' if fp['arrow'] else '–'} | {gwin} |"
            )
    out = REPO / "PLAN_AUDIT.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(names)} queries)")


if __name__ == "__main__":
    main()
