"""bench.py's drift canary: the stratified (15 cheap + 4 expensive)
plan-stable queries whose per-query median-of-ratios normalizes
cross-round bench comparisons (SCALE.md 'Drift canary'). The set must
stay resolvable against the catalog and the reference-lookup must pick
the newest same-SF snapshot that has every canary timing, preferring a
dedicated start-of-run pass (``canary.first``) over in-loop timings."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_canary_names_resolve_in_catalog():
    from cost_of_living_data_etl_spark.plans import catalog

    bench = _bench()
    cat = catalog()
    missing = [c for c in bench.CANARY_ALL if c not in cat]
    assert not missing, missing
    assert len(bench.CANARY) >= 12  # big enough to average out per-query noise
    # stratification (round-9): the heavy stratum keeps the canary from
    # being fixed-overhead-dominated
    assert len(bench.CANARY_HEAVY) >= 3
    assert len(set(bench.CANARY_ALL)) == len(bench.CANARY_ALL)


def test_median():
    bench = _bench()
    assert bench.median([3.0]) == 3.0
    assert bench.median([1.0, 9.0]) == 5.0
    assert bench.median([9.0, 1.0, 2.0]) == 2.0
    # robust to one wild outlier — the property total-over-total lacked
    assert bench.median([1.0, 1.0, 1.0, 1.0, 100.0]) == 1.0


def test_round_n_counts_only_round_files(tmp_path, monkeypatch):
    """Extra runs of a round (``BENCH_r02_c8.json``) and the local
    ``BENCH_LOCAL.json`` do not push the round number ahead."""
    bench = _bench()
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    assert bench._round_n() == 1
    for name in [
        "BENCH_r01.json",
        "BENCH_r02.json",
        "BENCH_r02_c8.json",
        "BENCH_LOCAL.json",
    ]:
        (tmp_path / name).write_text("{}")
    assert bench._round_n() == 3


def test_canary_reference_prefers_newest_complete_snapshot(tmp_path, monkeypatch):
    bench = _bench()
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    hist = tmp_path / "history"
    hist.mkdir()
    full = {c: 0.5 for c in bench.CANARY_ALL}
    # r05: complete at the right SF; r06: wrong SF; r07: missing one canary
    (hist / "bench_full_r05.json").write_text(
        json.dumps({"sf": bench.SF_DIR, "queries": full})
    )
    (hist / "bench_full_r06.json").write_text(
        json.dumps({"sf": "elsewhere", "queries": {c: 9.9 for c in bench.CANARY_ALL}})
    )
    partial = dict(full)
    partial.pop(bench.CANARY_ALL[0])
    (hist / "bench_full_r07.json").write_text(
        json.dumps({"sf": bench.SF_DIR, "queries": partial})
    )
    ref, rnd = bench._canary_reference(round_n=8)
    assert rnd == 5
    assert ref == {c: 0.5 for c in bench.CANARY_ALL}


def test_canary_reference_prefers_dedicated_first_pass(tmp_path, monkeypatch):
    """A snapshot that carries canary.first (round 9+) supplies the
    start-of-run timings; in-loop values only backfill names the pass
    lacks (never the case in practice, but the lookup is total)."""
    bench = _bench()
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    hist = tmp_path / "history"
    hist.mkdir()
    first = {c: 0.25 for c in bench.CANARY_ALL}
    first.pop(bench.CANARY_ALL[-1])  # one name falls back to in-loop
    (hist / "bench_full_r09.json").write_text(
        json.dumps(
            {
                "sf": bench.SF_DIR,
                "queries": {c: 0.75 for c in bench.CANARY_ALL},
                "canary": {"first": first},
            }
        )
    )
    ref, rnd = bench._canary_reference(round_n=10)
    assert rnd == 9
    assert ref[bench.CANARY_ALL[0]] == 0.25
    assert ref[bench.CANARY_ALL[-1]] == 0.75


def test_canary_reference_none_when_no_snapshot(tmp_path, monkeypatch):
    bench = _bench()
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    assert bench._canary_reference(round_n=8) == ({}, None)


def test_drift_median_filters_and_median(tmp_path, monkeypatch):
    """The all-query drift estimate: only re-timed (both runs),
    plan-unchanged names above the 0.2s noise floor enter; the median
    resists single-query outliers."""
    bench = _bench()
    timings = {
        "a": 1.0,   # ratio 2.0
        "b": 2.0,   # ratio 2.0
        "c": 3.0,   # ratio 2.0
        "d": 4.0,   # ratio 40.0 — outlier, median unmoved
        "e": 0.1,   # below floor now
        "f": 1.0,   # below floor in ref
        "g": 1.0,   # not re-timed now
        "h": 1.0,   # not re-timed in ref
        "i": 1.0,   # plan changed
        "new": 1.0, # not in ref
    }
    ref = {
        "queries": {"a": 0.5, "b": 1.0, "c": 1.5, "d": 0.1 + 0.0,
                    "e": 1.0, "f": 0.1, "g": 1.0, "h": 1.0, "i": 0.5},
        "retimed": ["a", "b", "c", "d", "e", "f", "g", "i"],
    }
    ref["queries"]["d"] = 0.2  # not 0.1: keep d above the ref floor too
    retimed = set(timings) - {"g"}
    drift, n = bench._drift_median(timings, retimed, ref, changed_names={"i"})
    assert n == 4  # a b c d
    assert drift == 2.0


def test_drift_median_ref_without_retimed_counts_all(tmp_path):
    """Pre-round-9 snapshots lack the retimed list: every ref name
    counts (they were full runs)."""
    bench = _bench()
    timings = {"a": 1.0, "b": 3.0}
    ref = {"queries": {"a": 0.5, "b": 1.0}}
    drift, n = bench._drift_median(timings, {"a", "b"}, ref, set())
    assert n == 2
    assert drift == 2.5  # median of [2.0, 3.0]


def test_drift_median_empty_when_nothing_comparable():
    bench = _bench()
    drift, n = bench._drift_median({"a": 1.0}, {"a"}, {"queries": {}}, set())
    assert drift is None and n == 0


def test_drift_reference_newest_same_sf(tmp_path, monkeypatch):
    bench = _bench()
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    hist = tmp_path / "history"
    hist.mkdir()
    (hist / "bench_full_r07.json").write_text(
        json.dumps({"sf": bench.SF_DIR, "queries": {"a": 1.0}})
    )
    (hist / "bench_full_r08.json").write_text(
        json.dumps({"sf": "elsewhere", "queries": {"a": 9.0}})
    )
    rec, rnd = bench._drift_reference(round_n=9)
    assert rnd == 7 and rec["queries"] == {"a": 1.0}


def test_snapshot_rerun_never_overwrites(tmp_path, monkeypatch):
    """A second (and third) bench run in the same round writes
    bench_full_rNN_runK.json with the next K; earlier files keep their
    bytes."""
    bench = _bench()
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    hist = tmp_path / "history"
    hist.mkdir()
    first = bench._snapshot_path(11)
    assert first.name == "bench_full_r11.json"
    first.write_text("first")
    second = bench._snapshot_path(11)
    assert second.name == "bench_full_r11_run1.json"
    second.write_text("second")
    assert bench._snapshot_path(11).name == "bench_full_r11_run2.json"
    assert first.read_text() == "first" and second.read_text() == "second"
    # a different round starts at its own base name
    assert bench._snapshot_path(12).name == "bench_full_r12.json"


def test_references_read_newest_run_of_a_round(tmp_path, monkeypatch):
    """Latest wins within a round: _run2 beats _run1 and the base file
    (numeric K order, so _run10 beats _run9), for both the canary and
    the drift reference."""
    bench = _bench()
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    hist = tmp_path / "history"
    hist.mkdir()
    for suffix, t in [("", 0.1), ("_run1", 0.2), ("_run2", 0.3)]:
        (hist / f"bench_full_r07{suffix}.json").write_text(
            json.dumps(
                {"sf": bench.SF_DIR, "queries": {c: t for c in bench.CANARY_ALL}}
            )
        )
    ref, rnd = bench._canary_reference(round_n=8)
    assert rnd == 7 and set(ref.values()) == {0.3}
    rec, rnd = bench._drift_reference(round_n=8)
    assert rnd == 7 and set(rec["queries"].values()) == {0.3}
    (hist / "bench_full_r07_run10.json").write_text(
        json.dumps({"sf": bench.SF_DIR, "queries": {"a": 1.0}})
    )
    (hist / "bench_full_r07_run9.json").write_text(
        json.dumps({"sf": bench.SF_DIR, "queries": {"a": 9.0}})
    )
    rec, _ = bench._drift_reference(round_n=8)
    assert rec["queries"] == {"a": 1.0}
    # run10 lacks the canary set, so the canary lookup falls back to
    # the newest complete run of the same round
    ref, rnd = bench._canary_reference(round_n=8)
    assert rnd == 7 and set(ref.values()) == {0.3}
