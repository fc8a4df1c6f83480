"""Semantic tests for the round-6 first-block operators (plans/round6.py).

Added with the round-6 review fixes: the winnowing miner had shipped
with rpad() silently truncating every doc to its first k chars — both
engines agreed on the resulting EMPTY output, so the oracle gate
could not see it. These tests pin non-degenerate behavior on
constructed fixtures: planted copying IS found, a zero-novelty source
IS reported (not dropped), and the DP noise matches its closed form.
"""

from __future__ import annotations

import hashlib
import math

from cost_of_living_data_etl_spark.plans.catalog import catalog
from cost_of_living_data_etl_spark.operators.pii import DP_EPSILON
from cost_of_living_data_etl_spark.plans.dedup_graph import (
    WINNOW_K,
    WINNOW_MIN_SHARED,
    WINNOW_W,
)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")


def test_winnowing_finds_planted_shared_span(spark, tmp_path):
    """Two docs sharing one long verbatim passage (inside otherwise
    unrelated text) must surface as a pair — the span-level detection
    MinHash whole-doc similarity misses. An unrelated doc pairs with
    nobody. Guarantee check: the shared span is far longer than
    k+w-1, so the pair shares >= WINNOW_MIN_SHARED fingerprints."""
    shared = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the river runs slowly past the old stone mill"
    )  # 119 chars >> k+w-1 = WINNOW_K + WINNOW_W - 1
    assert len(shared) >= 4 * (WINNOW_K + WINNOW_W - 1)
    rows = [
        (1, f"alpha bravo charlie delta echo unique one {shared} tail one x", "en", "A", 0),
        (2, f"zulu yankee xray walrus vulture unique two {shared} tail two y", "en", "B", 0),
    ]
    # unrelated fillers so document frequency stays meaningful
    for i in range(3, 9):
        rows.append(
            (i, f"filler doc number {i} " + " ".join(f"w{i}{j}" for j in range(30)), "en", "C", 0)
        )
    rows = [(d, t, lang, s, len(t)) for d, t, lang, s, _ in rows]
    _write_docs(spark, tmp_path, rows)
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["n_shared"]
        for r in catalog()["q_winnowing_overlap_pairs"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert (1, 2) in got, got  # the planted copy IS found
    assert got[(1, 2)] >= WINNOW_MIN_SHARED
    assert all(p == (1, 2) for p in got), got  # fillers pair with nobody


def test_novelty_zero_novel_source_is_reported_not_dropped(spark, tmp_path):
    """A source that only repeats text already introduced earlier must
    appear with n_novel = 0 and novelty_rate 0.0 — not vanish from the
    curve (the all-boilerplate source is exactly the one the mixture
    designer needs to see)."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    _write_docs(
        spark,
        tmp_path,
        [
            (1, t1, "en", "orig", len(t1)),
            (2, t2, "en", "orig", len(t2)),
            (11, t1, "en", "copycat", len(t1)),  # later doc_ids: all
            (12, t2, "en", "copycat", len(t2)),  # shingles seen in orig
        ],
    )
    got = {
        r["source"]: (r["n_novel"], r["novelty_rate"], r["n_shingles"])
        for r in catalog()["q_ngram_novelty_by_source"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(got) == {"orig", "copycat"}
    assert got["copycat"][0] == 0
    assert got["copycat"][1] == 0.0
    # orig introduced everything: novel == its shingle occurrences
    # (each doc's shingles are doc-distinct and t1/t2 share none)
    assert got["orig"][0] == got["orig"][2]


def test_dp_release_noise_matches_closed_form(spark, tmp_path):
    """The hash-seeded Laplace draw is the documented inverse CDF of
    the md5-derived uniform, computed in DOUBLE end to end: replaying
    the closed form in Python reproduces the released value exactly
    (the auditability property the operator exists for)."""
    import datetime

    ts = datetime.datetime(2024, 1, 1, 10, 0)
    rows = [
        (i, ts, i % 3, etype, 1.0, "{}")
        for i, etype in enumerate(["click"] * 5 + ["view"] * 3 + ["error"] * 2)
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in catalog()["q_dp_release_event_counts"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert {k: v["n_true"] for k, v in out.items()} == {
        "click": 5,
        "view": 3,
        "error": 2,
    }
    for etype, r in out.items():
        u_int = int(hashlib.md5(etype.encode()).hexdigest()[:6], 16)
        u = (u_int + 0.5) / 16777216.0
        expected = (
            (-1.0 / DP_EPSILON)
            * math.copysign(1.0, u - 0.5)
            * math.log(1.0 - 2.0 * abs(u - 0.5))
        )
        # 1e-12 band: JVM vs CPython libm ln can differ by an ulp
        assert math.isclose(r["laplace_noise"], expected, rel_tol=1e-12), (
            etype, r["laplace_noise"], expected)
        assert math.isclose(r["n_released"], r["n_true"] + r["laplace_noise"],
                            rel_tol=1e-12)
        assert r["epsilon"] == DP_EPSILON
