#!/usr/bin/env python
"""Benchmark the headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": "..."}

Every timing follows one run-once contract (``time_once``): build the
frame inside the timer, force it end-to-end into the noop sink (full
computation, no collect/driver materialization cost), stop the timer,
then clear the data cache. Each query is timed twice:

- **cold**: first execution of the plan — includes whole-stage-codegen
  compilation and class loading, a per-PLAN fixed cost that is
  identical at sf0.01 and at 100 TB (reported as ``cold_value`` /
  ``queries_cold``).
- **warm**: second execution with the codegen cache hot and the DATA
  cache cleared between runs (``spark.catalog.clearCache()``, so
  queries that persist intermediates get no cross-run advantage).

The headline ``value`` is the WARM total: at the 100 TB design point
the 0.5-3 s one-time compile per plan is noise against minutes of
scan/shuffle, so steady-state engine cost is the number that predicts
cluster behavior. Both totals are printed for transparency.

Drift measurement: ``normalized_value`` = raw warm total ÷
the median per-query warm ratio vs the newest prior same-SF snapshot,
taken over every re-timed, plan-unchanged query above a 0.2 s noise
floor (~300 names) — measured reproducible to 0.03% across identical
runs whose raw totals differed 7%. The stratified canary set
(CANARY_ALL) is additionally timed in dedicated passes at the START
and END of every run: last/first measures in-run session-state
inflation directly. Canary queries never reuse prior timings, even
under --changed-only.

``--changed-only`` (local iteration; the driver's plain run is always
full): re-times only queries whose normalized ANALYZED-plan
fingerprint differs from the last run at the same SF, reusing prior
timings for the rest — all non-canary queries reuse on an unchanged
catalog (managed-table names such as q_bucketed_colocated_join's are
content-deterministic, so they do not churn the fingerprint).
Fingerprints live in history/plan_fingerprints.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from pathlib import Path
from statistics import median

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from cost_of_living_data_etl_spark.functions.checkpoints import (  # noqa: E402
    plan_only_pass,
)
from cost_of_living_data_etl_spark.plans import catalog  # noqa: E402
from cost_of_living_data_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The bench set IS the catalog: every registered query is perf-tracked.
# There is no hand-curated exclusion list, so a correctness-covered
# query can never silently drop out of the perf record. The quadratic validation baselines
# (q_embed_neardup_pairs, q_mutual_nn_pairs) stay in: their explicit
# >100k-row guards make them bounded at any bench SF, and their cost
# vs the sub-quadratic production paths is exactly what the record
# should show.
HEADLINE: list[str] = []  # filled from catalog() in main()

# Drift canary: cross-snapshot totals are dominated by host noise
# (untouched queries have moved up to 4x between snapshots with zero
# code change), so a raw total cannot show whether a change helped.
# The canary queries are PLAN-STABLE (no session-keyed table names, no
# fit caches), rarely edited, and span the engine's families
# (scan+agg, join, window, pivot, text, events, dedup, corpus). Each
# rule below closes a measured hole in a simpler design, under which
# two runs of identical code normalized 22% apart:
#
# 1. STRATIFIED: four EXPENSIVE plan-stable queries (3.8-6 s warm each
#    at sf0.1) join the fifteen cheap ones, so the canary is no longer
#    fixed-overhead-dominated and actually represents a ~350 s
#    workload's host sensitivity.
# 2. FIRST **and** LAST: the canary set is timed in a dedicated pass at
#    the very START of the run (canary_first — these timings also serve
#    as the queries' in-loop timings, so nothing runs twice) and again
#    at the very END (canary_last). last/first measures late-bench
#    session-state inflation DIRECTLY instead of leaving it a
#    hypothesis.
# 3. MEDIAN-OF-RATIOS: normalization is median_c(first_now[c] /
#    first_ref[c]) — one outlier query (or one noisy timing) can no
#    longer swing the ratio the way total-over-total did.
# 4. ALWAYS FRESH: the canary passes run unconditionally, including
#    under --changed-only: reusing plan-stable canary timings would
#    normalize fresh timings by a stale host.
#
# Contract: NEVER rewrite a canary query; replace the entry here (and
# in SCALE.md) if one must change.
CANARY = [
    "q1_pricing_summary",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q13_order_count_distribution",
    "q_distinct_counts",
    "q_pivot_priority_counts",
    "q_word_frequency_topk",
    "q_histogram_order_values",
    "q_events_funnel",
    "q_events_retention",
    "q_text_token_counts",
    "q_date_extraction_revenue",
    "q_monthly_order_extremes",
    "q_pack_sequences",
    "q_join_key_skew_profile",
]
# The expensive stratum: fixed-iteration, plan-stable queries. Three of
# the four consume shared operators (the LSH chain, the isotonic grid
# checkpoint, k-core peeling through until_settled), so an edit there
# churns their plans. The within-run first/last inflation instrument is
# unaffected (same plan inside one run); a cross-snapshot ratio for a
# changed name measures the edit, and the name resumes as a drift
# instrument from the next snapshot. The gating number (all-query drift
# median) excludes changed plans by fingerprint automatically.
CANARY_HEAVY = [
    "q_pagerank_neardup_graph",
    "q_isotonic_calibration_quality_dup",
    "q_kcore_dup_graph",
    "q_logistic_irls_status",
]
CANARY_ALL = CANARY + CANARY_HEAVY


def time_once(spark, fn, sf_dir: str):
    """The run-once contract -> (seconds, the built frame).

    ``fn(spark, sf_dir)`` is built INSIDE the timer, so fit-heavy
    queries pay their driver-side passes (eager checkpoints, fit
    collects) in their timing; the frame is forced end-to-end into the
    noop sink; the timer stops; then the data cache is cleared, outside
    the timed span, so the next run gets no advantage from
    intermediates this one persisted. The frame is returned so a caller
    can fingerprint it without building it again."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    seconds = time.perf_counter() - t0
    # Unpersisting every RDD as well was measured and rejected: it made
    # the full-catalog warm total ~35% slower (blocking unpersist calls
    # outweigh any block-manager pressure), and the late-session
    # slowdown it targeted was host-state noise (SCALE.md "Pinned").
    spark.catalog.clearCache()
    return seconds, df


def _round_n() -> int:
    """This run's round: one past the rounds recorded as
    ``BENCH_rNN.json`` at the repo root. Extra runs of a round, such as
    ``BENCH_r09_c8.json``, are not rounds and do not count."""
    pat = re.compile(r"BENCH_r\d+\.json")
    return 1 + sum(
        1 for p in Path(_REPO).glob("BENCH_r*.json") if pat.fullmatch(p.name)
    )


def _runs_of_round(r: int) -> list[Path]:
    """Round ``r``'s full snapshots in ``history/``, newest first: its
    ``bench_full_rNN_runK.json`` re-runs by descending K, then the
    round's first run ``bench_full_rNN.json``."""
    hist = Path(_REPO, "history")
    pat = re.compile(rf"bench_full_r{r:02d}_run(\d+)\.json")
    runs = {
        int(m.group(1)): p
        for p in hist.glob(f"bench_full_r{r:02d}_run*.json")
        if (m := pat.fullmatch(p.name))
    }
    newest_first = [runs[k] for k in sorted(runs, reverse=True)]
    return newest_first + [hist / f"bench_full_r{r:02d}.json"]


def _snapshot_path(round_n: int) -> Path:
    """Where this run's full snapshot goes: ``bench_full_rNN.json`` for
    the round's first run, else ``bench_full_rNN_runK.json`` with K one
    past the newest existing re-run — a snapshot is never overwritten."""
    newest = _runs_of_round(round_n)[0]
    if not newest.exists():
        return newest
    m = re.search(r"_run(\d+)\.json$", newest.name)
    k = int(m.group(1)) + 1 if m else 1
    return newest.with_name(f"bench_full_r{round_n:02d}_run{k}.json")


def _prior_snapshots(round_n: int):
    """(round, record) for each readable full snapshot before
    ``round_n``, newest first: rounds descending, and within a round
    the newest run first."""
    for r in range(round_n - 1, 0, -1):
        for p in _runs_of_round(r):
            try:
                yield r, json.loads(p.read_text())
            except (OSError, ValueError):
                continue


def _canary_reference(round_n: int) -> tuple[dict[str, float], int | None]:
    """Newest prior full-run snapshot at the same SF with every canary
    timing present -> (per-query reference timings, its round).
    Prefers the snapshot's dedicated start-of-run pass
    (``canary.first``, when recorded) over its scattered in-loop
    timings so the ratio compares like positions. ({}, None) if none."""
    for r, rec in _prior_snapshots(round_n):
        if rec.get("sf") != SF_DIR:
            continue
        first = rec.get("canary", {}).get("first") or {}
        qs = rec.get("queries", {})
        ref = {c: first.get(c, qs.get(c)) for c in CANARY_ALL}
        if all(v is not None for v in ref.values()):
            return {c: float(v) for c, v in ref.items()}, r
    return {}, None


#: warm timings below this are fixed-overhead-dominated; their ratios
#: measure scheduler noise, not host drift
DRIFT_FLOOR_SEC = 0.2


def _drift_reference(round_n: int) -> tuple[dict, int | None]:
    """Newest prior same-SF snapshot for the ALL-QUERY drift median ->
    (snapshot record, its round). ({}, None) if none."""
    for r, rec in _prior_snapshots(round_n):
        if rec.get("sf") == SF_DIR and rec.get("queries"):
            return rec, r
    return {}, None


def _drift_median(
    timings: dict[str, float],
    retimed: set[str],
    ref: dict,
    changed_names: set[str],
) -> tuple[float | None, int]:
    """Median per-query warm ratio vs the reference snapshot — the
    host-drift estimate that normalizes cross-round totals.

    Measured (SCALE.md "Drift normalization rebuilt"): two
    back-to-back full runs of identical code disagreed 16% when
    normalized by the 19-query canary median (per-pass JIT state varies
    run to run), but agreed within 0.1% when normalized by the median
    ratio over ~300 common queries — individual queries swing 0.24-3.9×
    between runs, the median over the full catalog barely moves.

    A name enters the median only if: re-timed in THIS run (never a
    reused --changed-only copy), re-timed in the reference run (per its
    ``retimed`` list; absent = full run, all names count), warm ≥
    DRIFT_FLOOR_SEC on both sides, and its plan fingerprint is
    UNCHANGED vs the reference snapshot's recorded fingerprints (a
    changed plan's ratio measures the edit, not the host; unknown when
    the reference snapshot carries no fingerprints)."""
    ref_q = ref.get("queries", {})
    ref_retimed = set(ref.get("retimed", ref_q))
    ratios = sorted(
        timings[q] / ref_q[q]
        for q in timings
        if q in ref_q
        and q in retimed
        and q in ref_retimed
        and q not in changed_names
        and timings[q] >= DRIFT_FLOOR_SEC
        and ref_q[q] >= DRIFT_FLOOR_SEC
    )
    if not ratios:
        return None, 0
    return median(ratios), len(ratios)


def _fingerprint(df, fn=None) -> str:
    """Stable hash of the ANALYZED logical plan (+ the builder's
    source). Physical plans embed session state that churns without
    any code change (InMemoryRelation appears wherever a shared
    intermediate happens to be cached at explain time, plan_id /
    exprId counters differ per session), which made a physical
    fingerprint re-run ~30% of an unchanged catalog. The analyzed
    plan is pre-cache-substitution and pre-planning: it changes
    exactly when the QUERY changes — the semantics --changed-only
    wants. Expression ids are normalized away.

    The lambda-counter normalization below is lossy: it also collapses
    GENUINE column names ending in _<digits> (doc_id_1/doc_id_2 both
    become doc_id_#), so a change expressed only in such names would
    fingerprint identical. Folding in the builder function's source
    text closes that hole: any edit to the query's code re-times it,
    at worst slightly over-eagerly."""
    import hashlib
    import inspect
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    plan = re.sub(r"#\d+[L]?", "#", plan)  # per-session expression ids
    plan = re.sub(r"LogicalRDD \[[^\]]*\]", "LogicalRDD", plan)
    # lambda variable names carry a global counter (lambda x_1#, x_2#…)
    # that churns across plan builds of the SAME query
    plan = re.sub(r"\b(lambda )?([A-Za-z]\w*?)_\d+#", r"\1\2_#", plan)
    # CTE definition ids are a session-global counter too
    plan = re.sub(r"\bCTERelation(Def|Ref) \d+", r"CTERelation\1 ", plan)
    if fn is not None:
        try:
            plan += inspect.getsource(fn)
        except (OSError, TypeError):
            pass
    return hashlib.md5(plan.encode()).hexdigest()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    # Iterating on one operator should not pay the full cold+warm
    # catalog run (~10 min at sf0.1). The flag is a no-op (full run)
    # when no prior fingerprint map exists for this SF; fingerprints
    # are recorded on every run.
    ap.add_argument(
        "--changed-only",
        action="store_true",
        help="re-time only queries whose plan fingerprint changed since "
        "the last run at this SF; reuse the prior timings for the rest",
    )
    changed_only = ap.parse_args(argv).changed_only

    # Fold any NEW driver-correctness greens into the verified-
    # fingerprint map BEFORE this run overwrites plan_fingerprints.json
    # — at this moment the file still holds the fingerprints of the
    # commit the driver verified (verification.py module docstring).
    from cost_of_living_data_etl_spark.verification import (
        sync_verified_fingerprints,
    )

    sync_verified_fingerprints(Path(_REPO))

    spark = get_spark(app_name="cost-of-living-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = catalog()
    HEADLINE.extend(specs)  # the full catalog, registration order
    timings: dict[str, float] = {}

    fp_path = Path(_REPO, "history", "plan_fingerprints.json")
    prior_fp: dict[str, str] = {}
    prior_timings: dict[str, float] = {}
    prior_cold: dict[str, float] = {}
    if changed_only and fp_path.exists():
        try:
            rec = json.loads(fp_path.read_text())
            if rec.get("sf") == SF_DIR:
                prior_fp = rec.get("fingerprints", {})
                prior = json.loads(Path(_REPO, "BENCH_LOCAL.json").read_text())
                if prior.get("sf") == SF_DIR:
                    prior_timings = prior.get("queries", {})
                    prior_cold = prior.get("queries_cold", {})
        except (OSError, ValueError):
            pass

    fingerprints: dict[str, str] = {}
    if changed_only:
        # Selection pass: build every plan only to fingerprint it. The
        # analyzed plan (hence the fingerprint) is identical inside a
        # plan-only pass, where eager checkpoints run no job
        # (functions/checkpoints.py, pinned by
        # tests/test_bench_fingerprint.py).
        with plan_only_pass(spark):
            fingerprints = {
                name: _fingerprint(specs[name].fn(spark, SF_DIR), specs[name].fn)
                for name in HEADLINE
            }
        # Building fn() also runs driver-side fit code (IVF centroids,
        # PQ codebooks) and memoizes it in the quantizer caches. Clear
        # them, or a changed fit-heavy query would be timed without its
        # fit cost.
        from cost_of_living_data_etl_spark.operators.similarity import (
            clear_quantizer_caches,
        )

        clear_quantizer_caches()
        to_run = [
            name
            for name in HEADLINE
            if name not in CANARY_ALL
            and (
                fingerprints.get(name) != prior_fp.get(name)
                or name not in prior_timings
            )
        ]
    else:
        to_run = [n for n in HEADLINE if n not in CANARY_ALL]
    # Canary queries NEVER reuse prior timings: they run in the
    # dedicated first/last passes below on every invocation, so the
    # drift ratio always reflects THIS run's host.
    reused = [n for n in HEADLINE if n not in to_run and n not in CANARY_ALL]
    if changed_only:
        print(
            json.dumps(
                {"detail": "changed_only", "rerun": len(to_run), "reused": len(reused)}
            )
        )

    # warm the JVM/codegen path once so timings measure the engine,
    # not first-call class-loading
    time_once(spark, specs["q1_pricing_summary"].fn, SF_DIR)

    cold: dict[str, float] = {}

    # --- canary FIRST pass (start-of-run host baseline) ----------------
    # These timings double as the canary queries' in-loop cold/warm
    # numbers (same run-once contract), so the pass costs nothing extra
    # versus timing them inside the main loop. The cold runs for ALL
    # canaries complete BEFORE any warm run is timed: a measured sf0.01
    # run showed last/first = 0.65 when cold and warm were interleaved —
    # the early warm timings were dominated by a still-JITting JVM, not
    # by the host. Batching ~19 plan executions ahead of the first timed
    # run pushes the timed pass past the steepest part of the JIT curve.
    canary_first: dict[str, float] = {}
    for name in CANARY_ALL:
        c, _ = time_once(spark, specs[name].fn, SF_DIR)
        cold[name] = round(c, 3)
    for name in CANARY_ALL:
        w, df = time_once(spark, specs[name].fn, SF_DIR)
        canary_first[name] = round(w, 3)
        timings[name] = canary_first[name]
        fingerprints[name] = _fingerprint(df, specs[name].fn)

    for name in reused:
        cold[name] = prior_cold.get(name, 0.0)
        timings[name] = prior_timings[name]
    for name in to_run:
        c, _ = time_once(spark, specs[name].fn, SF_DIR)
        cold[name] = round(c, 3)
        w, df = time_once(spark, specs[name].fn, SF_DIR)
        timings[name] = round(w, 3)
        fingerprints[name] = _fingerprint(df, specs[name].fn)

    # --- canary LAST pass (end-of-run re-time, codegen already hot) ----
    # last/first on identical plans in one process is the DIRECT
    # measurement of late-bench session-state inflation, which cross-run
    # totals can only hint at.
    canary_last: dict[str, float] = {}
    for name in CANARY_ALL:
        w, _ = time_once(spark, specs[name].fn, SF_DIR)
        canary_last[name] = round(w, 3)

    fp_path.parent.mkdir(exist_ok=True)
    fp_path.write_text(
        json.dumps({"sf": SF_DIR, "fingerprints": fingerprints}, indent=1)
    )

    # The recorder keeps only a bounded TAIL of stdout (~2000 chars), so
    # a final line carrying every per-query timing can never survive.
    # Contract:
    #   1. FULL results (warm + cold maps) go to BENCH_LOCAL.json next to
    #      this script — always parseable, committed per round.
    #   2. The detail lines (full warm + cold maps) still print first for
    #      anyone reading the log directly.
    #   3. The FINAL stdout line is a compact headline kept under the
    #      tail window: totals + sf + the slowest warm queries that fit.
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "cold_value": round(sum(cold.values()), 3),
        "n_queries": len(timings),
        "queries": timings,
        "queries_cold": cold,
        "sf": SF_DIR,
    }
    # Drift correction, two instruments:
    #
    # 1. normalized_value — raw total ÷ the ALL-QUERY drift median
    #    (_drift_median): the cross-round comparable number regression
    #    claims gate on. Reproducibility measured at 0.03% across two
    #    identical full runs whose raw totals differed 7%.
    # 2. canary first/last passes — the within-run diagnostic:
    #    inflation = median(last/first) measures late-run session-state
    #    drag directly (values < 1 mean the run ENDS faster, i.e. JIT
    #    ramp, not state accumulation). The 19-query canary median vs
    #    the reference round is kept for continuity but is NOT the
    #    gating number (per-pass JIT state made it swing ±15%).
    round_n = _round_n()
    retimed = set(to_run) | set(CANARY_ALL)
    full["retimed"] = sorted(retimed)
    full["fingerprints_recorded"] = True
    full["fingerprints"] = fingerprints
    canary_ref, canary_ref_round = _canary_reference(round_n)
    full["canary"] = {
        "queries": CANARY_ALL,
        "first": canary_first,
        "last": canary_last,
        "ref": canary_ref or None,
        "ref_round": canary_ref_round,
        "inflation": round(
            median([canary_last[c] / canary_first[c] for c in CANARY_ALL]), 4
        ),
    }
    if canary_ref:
        ratios = {
            c: round(canary_first[c] / canary_ref[c], 4) for c in CANARY_ALL
        }
        full["canary"]["ratios"] = ratios
        full["canary"]["ratio"] = round(median(list(ratios.values())), 4)
    drift_ref, drift_ref_round = _drift_reference(round_n)
    ref_fp = drift_ref.get("fingerprints", {})
    changed_names = {
        q for q in fingerprints
        if q in ref_fp and fingerprints[q] != ref_fp[q]
    }
    drift, n_drift = _drift_median(timings, retimed, drift_ref, changed_names)
    if drift is not None:
        # A scalar drift correction assumes the host moved UNIFORMLY
        # within the run; the canary inflation is the check. Measured:
        # two runs with inflation 0.79/0.89 normalized to
        # within 0.03% of each other; a third with inflation 0.59 (host
        # state shifted mid-run) landed 5.7% off. Regression claims
        # should ignore runs flagged unstable and re-run instead.
        inflation = full["canary"]["inflation"]
        full["drift"] = {
            "ratio": round(drift, 4),
            "n_queries": n_drift,
            "ref_round": drift_ref_round,
            "plan_changed_excluded": sorted(changed_names),
            "within_run_stable": bool(0.75 <= inflation <= 1.33),
        }
        full["normalized_value"] = round(full["value"] / drift, 3)
    Path(_REPO, "BENCH_LOCAL.json").write_text(json.dumps(full, indent=1))
    # Per-round FULL snapshot: BENCH_LOCAL.json is overwritten per run
    # and the recorded BENCH_r{N}.json keeps only the ~40 slowest
    # timings, a biased sample for cross-round regression analysis.
    # The round about to be recorded is 1 + the number of BENCH_r*.json
    # files already on disk; a re-run within a round gets its own
    # _runK file, and the reference lookups read the newest run of
    # each round.
    Path(_REPO, "history").mkdir(exist_ok=True)
    _snapshot_path(round_n).write_text(json.dumps(full, indent=1))
    print(json.dumps({"detail": "cold_run", "queries_cold": cold}))
    print(json.dumps({"detail": "warm_run", "queries": timings}))

    TAIL_BUDGET = 1800  # stay under the recorder's ~2000-char tail window
    headline = {
        "metric": "headline_queries_total_wall",
        "value": full["value"],
        "unit": "sec",
        "cold_value": full["cold_value"],
        "n_queries": full["n_queries"],
        "full_results": "BENCH_LOCAL.json",
        "sf": SF_DIR,
        "queries": {},
    }
    headline["canary_inflation"] = full["canary"]["inflation"]
    if "normalized_value" in full:
        headline["normalized_value"] = full["normalized_value"]
        headline["drift_ratio"] = full["drift"]["ratio"]
        headline["drift_ref_round"] = full["drift"]["ref_round"]
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        headline["queries"][name] = sec
        if len(json.dumps(headline, separators=(",", ":"))) > TAIL_BUDGET:
            del headline["queries"][name]
            break
    print(json.dumps(headline, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
