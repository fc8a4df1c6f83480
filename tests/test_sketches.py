"""Sketch operators: heavy-hitter guarantee and HLL rollup contracts.

The heavy-hitter operator's whole claim is that truncating partition
summaries NEVER loses a true heavy hitter (the candidate set is a
provable superset) and that the verify pass makes the final answer
exact — i.e. independent of the summary capacity. The HLL rollup's
claim is that union-merging persisted sketches is lossless versus
sketching the raw union. Both are tested here directly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from cost_of_living_data_etl_spark.operators.sketches import (
    det_hll_estimate,
    det_hll_merge,
    det_hll_registers,
    exact_heavy_hitters,
    heavy_hitter_candidates,
    partition_summaries,
    safe_capacity,
)
from conftest import TESTDATA


def _brute_force(keys: list[str], min_share: float) -> dict[str, int]:
    n = len(keys)
    counts: dict[str, int] = {}
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    return {k: c for k, c in counts.items() if c >= n * min_share}


def _keys_df(spark, keys: list[str], partitions: int):
    return spark.createDataFrame(
        [(k,) for k in keys], "key string"
    ).repartition(partitions)


def test_heavy_hitters_exact_and_capacity_independent(spark):
    # skewed stream: 'hot' holds 40%, 'warm' 10%, a long tail of uniques
    keys = ["hot"] * 400 + ["warm"] * 100 + [f"tail{i}" for i in range(500)]
    expected = _brute_force(keys, 0.05)
    for capacity in (1, 2, 64):
        got = {
            r["key"]: r["cnt"]
            for r in exact_heavy_hitters(
                _keys_df(spark, keys, 8), min_share=0.05, capacity=capacity
            ).collect()
        }
        assert got == expected, f"capacity={capacity}"


@settings(max_examples=15, deadline=None)
@given(
    keys=st.lists(
        st.sampled_from([f"k{i}" for i in range(12)]), min_size=1, max_size=120
    ),
    extra_capacity=st.integers(min_value=0, max_value=5),
    share_pct=st.integers(min_value=5, max_value=40),
)
def test_candidate_superset_property(spark_module, keys, extra_capacity, share_pct):
    """Candidates from truncated summaries always cover the true heavy
    hitters, for any data / threshold, at any capacity at or above the
    safe_capacity floor (below it the guarantee provably fails — that
    is why exact_heavy_hitters enforces the floor)."""
    min_share = share_pct / 100.0
    truth = set(_brute_force(keys, min_share))
    capacity = safe_capacity(min_share) + extra_capacity
    summaries = partition_summaries(_keys_df(spark_module, keys, 4), capacity)
    cand = {
        r["key"] for r in heavy_hitter_candidates(summaries, min_share).collect()
    }
    assert truth <= cand


@pytest.fixture(scope="module")
def spark_module(spark):
    # hypothesis forbids function-scoped fixtures; alias the session one
    return spark


def test_summary_size_bounded(spark):
    keys = [f"k{i % 97}" for i in range(2000)]
    parts = 8
    capacity = 5
    summaries = partition_summaries(_keys_df(spark, keys, parts), capacity)
    assert summaries.count() <= capacity * parts


def test_sketch_table_survives_parquet_roundtrip(spark, sf_oracle, tmp_path):
    """The incremental pattern: persist daily sketches, append a new
    batch's sketches, answer the global rollup from the table alone."""
    orders = spark.read.parquet(f"{sf_oracle}/orders.parquet").select(
        F.to_date("o_orderdate").alias("day"), "o_custkey"
    )
    old = orders.filter(F.year("day") <= 1996)
    new = orders.filter(F.year("day") > 1996)
    path = str(tmp_path / "sketches")
    det_hll_registers(old, ["day"], "o_custkey").write.parquet(path)
    det_hll_registers(new, ["day"], "o_custkey").write.mode("append").parquet(path)

    table = spark.read.parquet(path)
    total = det_hll_estimate(det_hll_merge(table, []), []).collect()[0]
    exact = orders.agg(
        F.count_distinct("o_custkey").alias("d"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert total["n_rows"] == exact["n"]
    assert abs(total["n_distinct_est"] - exact["d"]) / exact["d"] < 0.05


def test_heavy_hitter_plan_shape(spark, sf_oracle):
    """Pass 2 probes the driver-collected candidate set via a literal
    IN filter in the SCAN stage — no join at all, and the only shuffle
    carries candidate-key partial counts; Python appears only on the
    Arrow path."""
    from cost_of_living_data_etl_spark.plans.catalog import catalog

    plan = (
        catalog()["q_heavy_hitter_words"]
        .fn(spark, sf_oracle)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # candidates as a literal membership predicate, not a join
    assert "Join" not in plan
    assert ("INSET" in plan) or (" IN (" in plan) or ("key#" in plan and "IN" in plan)
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# deterministic portable HLL (exploded-register table)
# ---------------------------------------------------------------------------


def test_det_hll_bounded_error_vs_exact(spark, sf_oracle):
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet").select(
        "l_returnflag", "l_partkey"
    )
    regs = det_hll_registers(li, ["l_returnflag"], "l_partkey")
    est = {
        r["l_returnflag"]: (r["n_parts_approx"], r["n_rows"])
        for r in det_hll_estimate(regs, ["l_returnflag"], "n_parts_approx").collect()
    }
    exact = {
        r["l_returnflag"]: (r["d"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("d"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k in exact:
        (e_d, e_n), (x_d, x_n) = est[k], exact[k]
        assert e_n == x_n  # exact row counts ride along
        assert abs(e_d - x_d) / x_d < 0.05  # ~1.04/sqrt(4096) ≈ 1.6% rsd


def test_det_hll_merge_is_lossless(spark, sf_oracle):
    """max-merging per-day register tables gives BIT-IDENTICAL
    estimates to building the registers at the coarse grain directly —
    stronger than a binary-sketch union (which only promises
    within-error), and exactly why the merged rollup can share one
    DuckDB oracle with the direct form."""
    orders = spark.read.parquet(f"{sf_oracle}/orders.parquet").select(
        F.to_date("o_orderdate").alias("day"), "o_orderpriority", "o_custkey"
    )
    daily = det_hll_registers(orders, ["day", "o_orderpriority"], "o_custkey")
    merged = {
        r["o_orderpriority"]: (r["n_distinct_est"], r["n_rows"])
        for r in det_hll_estimate(
            det_hll_merge(daily, ["o_orderpriority"]), ["o_orderpriority"]
        ).collect()
    }
    direct = {
        r["o_orderpriority"]: (r["n_distinct_est"], r["n_rows"])
        for r in det_hll_estimate(
            det_hll_registers(orders, ["o_orderpriority"], "o_custkey"),
            ["o_orderpriority"],
        ).collect()
    }
    assert merged == direct


# ---------------------------------------------------------------------------
# Bloom-filter join pruning
# ---------------------------------------------------------------------------


def test_bloom_prune_exact_at_any_filter_size(spark):
    """The verify pass makes the pruned join exact regardless of the
    bloom's false-positive rate — m=16 bits over 40 keys is nearly
    all-ones (fp → 1), yet the result must equal the plain semi join.
    Mirrors the capacity-independence contract of exact_heavy_hitters."""
    from cost_of_living_data_etl_spark.operators.sketches import (
        bloom_bits,
        bloom_prune,
    )

    keys = spark.createDataFrame([(i,) for i in range(0, 120, 3)], "k long")
    facts = spark.createDataFrame([(i, i % 7) for i in range(200)], "k long, v int")
    expected = sorted(
        (r["k"], r["v"])
        for r in facts.join(keys, "k", "left_semi").collect()
    )
    for m, k in ((16, 2), (1 << 10, 4)):
        bits = bloom_bits(keys, "k", m=m, k=k)
        pruned = bloom_prune(facts, "k", bits, m=m, k=k)
        got = sorted(
            (r["k"], r["v"])
            for r in pruned.join(keys, "k", "left_semi").collect()
        )
        assert got == expected, f"m={m},k={k}"


def test_bloom_probe_is_map_side(spark):
    """The probe stage must not exchange the fact side: every bloom
    join is a broadcast left-semi, so the only Exchanges in the plan
    belong to the verify join and the final aggregate."""
    from cost_of_living_data_etl_spark.plans import catalog

    df = catalog()["q_bloom_prune_join"].fn(spark, f"{TESTDATA}/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4
    # fact-side scan of orders flows into the first broadcast semi join
    # with no Exchange in between: no shuffle node may appear *below*
    # the last BroadcastHashJoin in the plan text (tree prints top-down,
    # so the scan-side section is after the last broadcast join line).
    tail = plan[plan.rindex("BroadcastHashJoin"):]
    scan_section = "\n".join(
        ln for ln in tail.splitlines() if "orders" in ln or "Exchange" in ln
    )
    assert "Exchange" not in scan_section.split("BroadcastExchange")[0]


def test_bottomk_merge_is_lossless(spark, sf_oracle):
    """Bottom-k of a union must equal bottom-k of the merged per-part
    bottom-ks — the property that lets daily sketch tables roll up to
    any coarser grain without touching raw data."""
    from cost_of_living_data_etl_spark.operators.sketches import (
        bottomk_merge,
        bottomk_sketch,
    )
    from cost_of_living_data_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_oracle, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").alias("cell"),
        F.to_date("o_orderdate").alias("day"),
    )
    k = 64
    direct = bottomk_sketch(orders, "cell", "o_totalprice", "o_orderkey", k=k)
    daily = bottomk_sketch(
        orders.withColumn("day_cell", F.concat_ws("|", "day", "cell")),
        "day_cell",
        "o_totalprice",
        "o_orderkey",
        k=k,
    )
    merged = bottomk_merge(
        daily.withColumn("cell", F.substring_index("cell", "|", -1)), k=k
    )
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b


def test_bottomk_partitioning_independent(spark):
    """The two-phase local-trim + global-window refinement must give
    the same sample no matter how rows are physically split."""
    from cost_of_living_data_etl_spark.operators.sketches import bottomk_sketch

    rows = [(i, float((i * 37) % 1000), f"c{i % 3}") for i in range(2000)]
    base = spark.createDataFrame(rows, "id long, v double, cell string")
    out = {}
    for parts in (1, 7, 32):
        df = bottomk_sketch(base.repartition(parts), "cell", "v", "id", k=50)
        out[parts] = sorted(map(tuple, df.collect()))
    assert out[1] == out[7] == out[32]
    assert all(
        sum(1 for t in out[1] if t[0] == c) == 50 for c in ("c0", "c1", "c2")
    )


def test_bottomk_quantile_accuracy(spark, sf_oracle):
    """Sample-quantile error vs exact percentiles bounded: with k=128
    a uniform sample's p50/p90 estimate lands within ~3/sqrt(k) of the
    true rank, i.e. well inside ±0.15 quantile units -> compare value
    at estimated quantile against exact percentile band [q-0.15, q+0.15]."""
    from cost_of_living_data_etl_spark.operators.sketches import (
        bottomk_quantiles,
        bottomk_sketch,
    )
    from cost_of_living_data_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_oracle, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").alias("cell"),
    )
    sk = bottomk_sketch(orders, "cell", "o_totalprice", "o_orderkey")
    est = {r["cell"]: r for r in bottomk_quantiles(sk, [0.5, 0.9]).collect()}
    bands = {
        r["cell"]: r
        for r in orders.groupBy("cell")
        .agg(
            F.expr("percentile(o_totalprice, 0.35)").alias("p50_lo"),
            F.expr("percentile(o_totalprice, 0.65)").alias("p50_hi"),
            F.expr("percentile(o_totalprice, 0.75)").alias("p90_lo"),
            F.expr("percentile(o_totalprice, 0.999)").alias("p90_hi"),
        )
        .collect()
    }
    assert set(est) == set(bands)
    for cell, e in est.items():
        b = bands[cell]
        assert b["p50_lo"] <= e["est_p50"] <= b["p50_hi"], cell
        assert b["p90_lo"] <= e["est_p90"] <= b["p90_hi"], cell
