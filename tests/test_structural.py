"""Semantic regression tests for the structural family — boundary
cases the oracle hash gate cannot catch because oracle and engine
share the spec (threshold inclusivity, tie dominance, half-open
adjacency, crossing parity), plus one pruning-losslessness case the
fixtures may not exercise at the exact boundary.
"""

from __future__ import annotations

import datetime

import pytest

from cost_of_living_data_etl_spark.plans.structural import (
    q_hierarchy_rollup,
    q_interval_merge_islands,
    q_pareto_frontier_days,
    q_setsim_prefix_join,
    q_weighted_median_price,
)


def _write_documents(spark, path, texts):
    df = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _write_events(spark, path, rows):
    """rows: [(event_id, ts, user_id)]"""
    df = spark.createDataFrame(
        [(i, ts, uid, "view", 1.0, "{}") for (i, ts, uid) in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_orders(spark, path, rows):
    """rows: [(o_orderkey, o_totalprice, o_orderdate)]"""
    df = spark.createDataFrame(
        [(k, 1, "O", p, d, "1-URGENT") for (k, p, d) in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    df.write.mode("overwrite").parquet(f"{path}/orders.parquet")


def test_setsim_includes_exact_threshold_pair(spark, tmp_path):
    """J exactly at the 0.5 threshold must be FOUND (>=, not >), and a
    sub-threshold pair must not: 5-word docs sharing their first 4
    words have shingle sets {abc,bcd,cde} vs {abc,bcd,cdf} — overlap
    2 of union 4, J = 0.5 precisely. The pruning cascade (prefix +
    size + positional filters) must keep this boundary pair."""
    _write_documents(
        spark,
        str(tmp_path),
        [
            "a b c d e",  # 0: shingles {abc, bcd, cde}
            "a b c d f",  # 1: J(0,1) = 2/4 = 0.5  -> reported
            "c d e x y",  # 2: J(0,2) = 1/5 = 0.2  -> pruned/rejected
        ],
    )
    rows = q_setsim_prefix_join(spark, str(tmp_path)).collect()
    got = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"] for r in rows}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == 0.5


def test_setsim_identical_docs_jaccard_one(spark, tmp_path):
    _write_documents(
        spark,
        str(tmp_path),
        ["the quick brown fox jumps over", "the quick brown fox jumps over"],
    )
    rows = q_setsim_prefix_join(spark, str(tmp_path)).collect()
    assert [(r["doc_id_1"], r["doc_id_2"], r["jaccard"]) for r in rows] == [
        (0, 1, 1.0)
    ]


def test_islands_touching_intervals_merge(spark, tmp_path):
    """Half-open adjacency: [0, 300s) and [300s, 600s) touch exactly
    (start == running max end) and must MERGE into one island — the
    break condition is strict `>`. A third event past the gap starts
    island two; covered time is exact integral microseconds."""
    base = datetime.datetime(2024, 1, 1)
    _write_events(
        spark,
        str(tmp_path),
        [
            (0, base, 7),
            (1, base + datetime.timedelta(seconds=300), 7),
            (2, base + datetime.timedelta(seconds=1200), 7),
        ],
    )
    rows = q_interval_merge_islands(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    # island 1: [0, 600s) = 600s; island 2: [1200s, 1500s) = 300s
    assert (r["user_id"], r["n_islands"], r["covered_us"]) == (
        7,
        2,
        900_000_000,
    )


def test_islands_overlap_merges_and_extends(spark, tmp_path):
    """Overlapping intervals chain into one island whose span is
    first-start to last-end, not a sum of raw durations."""
    base = datetime.datetime(2024, 1, 1)
    _write_events(
        spark,
        str(tmp_path),
        [
            (0, base, 1),
            (1, base + datetime.timedelta(seconds=100), 1),
            (2, base + datetime.timedelta(seconds=200), 1),
        ],
    )
    rows = q_interval_merge_islands(spark, str(tmp_path)).collect()
    assert (rows[0]["n_islands"], rows[0]["covered_us"]) == (1, 500_000_000)


def test_pareto_equal_price_later_day_dominates(spark, tmp_path):
    """Dominance is >= on price for a strictly later day: day1 and
    day2 both bottoming at 10.00 leaves ONLY day2 on the frontier
    (keep condition is strict <); the latest day always survives."""
    d = lambda s: datetime.datetime.fromisoformat(s)  # noqa: E731
    _write_orders(
        spark,
        str(tmp_path),
        [
            (1, 10.0, d("2024-01-01")),
            (2, 10.0, d("2024-01-02")),
            (3, 50.0, d("2024-01-03")),
        ],
    )
    rows = q_pareto_frontier_days(spark, str(tmp_path)).collect()
    got = [(r["day"].date().isoformat(), r["best_price"]) for r in rows]
    assert got == [("2024-01-02", 10.0), ("2024-01-03", 50.0)]


def test_weighted_median_even_split_picks_lower(spark, tmp_path):
    """2*cw == tw exactly at the first price (even halves) must pick
    the LOWER price — the crossing test is >=, the pick is min."""
    d = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "A", "F", d),
        (1, 1, 1, 2, 1.0, 200.0, 0.0, 0.0, "A", "F", d),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = q_weighted_median_price(spark, str(tmp_path)).collect()
    assert [(r["l_returnflag"], r["w_median_price"], r["total_weight"]) for r in out] == [
        ("A", 100.0, 2.0)
    ]


def _write_forest(spark, path, keys):
    spark.createDataFrame(
        [(k, f"s{k}", 0, float(k)) for k in keys],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.mode("overwrite").parquet(f"{path}/supplier.parquet")


def test_hierarchy_matches_python_walk(spark, tmp_path):
    """Pointer doubling must agree with a plain Python parent walk on
    a 37-node forest (deep enough that several doubling rounds do real
    work: depth 4 > 2^1)."""
    n = 37
    _write_forest(spark, tmp_path, range(n))

    def walk(k):
        depth = 0
        while k >= 5:
            k = (k - 5) // 2
            depth += 1
        return k, depth

    import collections

    agg = collections.defaultdict(lambda: [0, 0, 0.0])
    for k in range(n):
        root, depth = walk(k)
        agg[root][0] += 1
        agg[root][1] = max(agg[root][1], depth)
        agg[root][2] += float(k)
    rows = q_hierarchy_rollup(spark, str(tmp_path)).collect()
    got = {
        r["root"]: (r["n_nodes"], r["max_depth"], r["acctbal_total"])
        for r in rows
    }
    assert got == {r: (c, d, b) for r, (c, d, b) in agg.items()}


def test_hierarchy_drops_subtrees_of_an_absent_root(spark, tmp_path):
    """Root 0 is missing: like the oracle's recursive walk, which starts
    from the roots present, its children (nodes 5 and 6) must not appear
    under root 0. Every parent pointer of this depth-1 forest already
    names a root, which does not prove that the root exists: the loop
    must still run the round that joins each node to its root's row."""
    _write_forest(spark, tmp_path, range(1, 15))
    got = {r["root"] for r in q_hierarchy_rollup(spark, str(tmp_path)).collect()}
    assert got == {1, 2, 3, 4}


def test_hierarchy_raises_when_round_cap_leaves_it_unsettled(
    spark, tmp_path, monkeypatch
):
    """The 37-node forest is depth 4; one doubling round resolves depth
    1 only, so a cap of 1 must raise instead of returning wrong roots."""
    from cost_of_living_data_etl_spark.plans import structural

    _write_forest(spark, tmp_path, range(37))
    monkeypatch.setattr(structural, "HIER_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="HIER_ROUNDS"):
        structural.q_hierarchy_rollup(spark, str(tmp_path))


def test_setsim_guard_raises_off_its_derived_threshold(spark, sf_smoke, monkeypatch):
    """The prefix join's overlap bound is derived for SETSIM_T = 1/2;
    any other threshold must be refused with ValueError, also under
    ``python -O``."""
    from cost_of_living_data_etl_spark.plans import structural

    monkeypatch.setattr(structural, "SETSIM_T", 0.6)
    with pytest.raises(ValueError, match="SETSIM_T"):
        structural.q_setsim_prefix_join(spark, sf_smoke)


def test_setsim_no_text_or_shingles_in_any_exchange(spark, sf_smoke):
    """The prefix join's scale contract: text and shingle strings are
    consumed in the scan/map pass; every Exchange carries only ids,
    hashes and counts (the corpus-prep discipline)."""
    from cost_of_living_data_etl_spark.plans.catalog import catalog

    plan = (
        catalog()["q_setsim_prefix_join"]
        .fn(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines, "expected shuffles in the prefix-join plan"
    assert not any("text" in l or "shingle" in l for l in exchange_lines)


def test_interval_overlap_halfopen_boundary_and_lengths(spark, tmp_path):
    """Constructed incident: a burst [1000, 1300)s (one error). A
    session ending exactly AT the burst start must NOT count
    (half-open intervals: touching is not overlapping); a session
    entering the burst overlaps by the exact intersection length; the
    error's own activity overlaps fully; an early session not at all."""
    import datetime as dt

    from cost_of_living_data_etl_spark.plans.structural import (
        q_interval_overlap_sessions_bursts,
    )

    t = lambda sec: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        # (event_id, ts, user_id, event_type)
        (1, t(200), 1, "view"),   # session [200, 500) — ends before burst
        (2, t(900), 2, "view"),   # session [900, 1200) — overlaps 200s
        (3, t(700), 3, "view"),   # session [700, 1000) — TOUCHES burst start
        (9, t(1000), 9, "error"), # burst [1000, 1300); user 9 session too
    ]
    spark.createDataFrame(
        [(i, ts, uid, et, 1.0, "{}") for (i, ts, uid, et) in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        r["user_id"]: (r["n_sessions"], r["n_hit_sessions"], r["overlap_us"])
        for r in q_interval_overlap_sessions_bursts(
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1] == (1, 0, 0)
    assert got[2] == (1, 1, 200_000_000)
    assert got[3] == (1, 0, 0)  # half-open: touching != overlapping
    assert got[9] == (1, 1, 300_000_000)


def test_dedup_threshold_curve_graded_pairs(spark, tmp_path):
    """Constructed corpus with one exact duplicate pair (J = 1) and
    one partial pair (two of ten words changed ⇒ shingle Jaccard
    exactly 6/10): the curve keeps both pairs through τ = 0.6 and only
    the exact pair from τ = 0.7 up — monotone non-increasing by
    construction, with exact greedy-removal counts."""
    from cost_of_living_data_etl_spark.plans.structural import (
        q_dedup_threshold_curve,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    partial = (
        "alpha bravo charlie delta echo foxtrot golf hotel yankee zulu"
    )
    texts = [base, partial, "the same exact duplicate text here",
             "the same exact duplicate text here",
             "a completely different document about other things"]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r["threshold"]: (r["n_pairs"], r["n_removed_greedy"])
        for r in q_dedup_threshold_curve(spark, str(tmp_path)).collect()
    }
    assert got[0.5] == (2, 2) and got[0.6] == (2, 2)
    assert got[0.7] == (1, 1) and got[0.8] == (1, 1) and got[0.9] == (1, 1)
