"""Semantic test for Fellegi-Sunter linkage on a constructed catalog:
a typo'd duplicate profile agreeing on every field must score as a
match with the exactly-predicted log-likelihood weight (u recomputed
in the test from the same marginal formula), an all-fields-disagree
near-miss must be a nonmatch, and pairs whose names differ beyond the
blocking contract must not appear at all."""

from __future__ import annotations

import math

import pytest

from cost_of_living_data_etl_spark.plans.record_linkage import (
    fs_candidates,
    q_fellegi_sunter_linkage,
)

_PARTS = [
    # (key, name, brand, type, size) — price constant
    (1, "blue bolt", "Brand#A", "ECONOMY", 5),
    (2, "blup bolt", "Brand#A", "ECONOMY", 5),   # typo'd true duplicate
    (3, "red gear", "Brand#B", "STANDARD", 7),
    (4, "rad gear", "Brand#C", "PROMO", 9),      # near-miss, no agreement
    (5, "one cap", "Brand#D", "LARGE", 11),      # edit dist 3 to "two cap"
    (6, "two cap", "Brand#E", "SMALL", 13),      # => outside blocking
    (7, "foo pin", "Brand#F", "MEDIUM", 15),
    (8, "bar pin", "Brand#G", "TINY", 17),
]


def test_fs_match_and_nonmatch_closed_form(spark, tmp_path):
    spark.createDataFrame(
        [(k, n, b, t, s, 900.0) for (k, n, b, t, s) in _PARTS],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")

    rows = q_fellegi_sunter_linkage(spark, str(tmp_path)).collect()
    got = {(r["name_1"], r["name_2"]): r for r in rows}
    assert set(got) == {("blue bolt", "blup bolt"), ("rad gear", "red gear")}

    # u_f = Σ nᵢ(nᵢ−1) / N(N−1): every field has one doubled value over
    # 8 profiles ⇒ u = 2/56 for all three fields
    n = 8
    u = 2 / (n * (n - 1.0))
    w_match = (
        math.log(0.95 / u) + math.log(0.9 / u) + math.log(0.85 / u)
    )
    w_nonmatch = (
        math.log(0.05 / (1.0 - u))
        + math.log(0.1 / (1.0 - u))
        + math.log(0.15 / (1.0 - u))
    )
    m = got[("blue bolt", "blup bolt")]
    assert m["n_agree"] == 3 and m["decision"] == "match"
    assert abs(m["fs_weight"] - w_match) < 1e-12
    nm = got[("rad gear", "red gear")]
    assert nm["n_agree"] == 0 and nm["decision"] == "nonmatch"
    assert abs(nm["fs_weight"] - w_nonmatch) < 1e-12


def test_fs_candidates_rejects_float_field(spark, tmp_path):
    """The u-estimator casts field values to string, which only keeps
    value counts for string/integral fields: a double ``p_size`` must
    be refused with a TypeError (not an assert, which python -O drops)."""
    spark.createDataFrame(
        [(k, n, b, t, float(s), 900.0) for (k, n, b, t, s) in _PARTS],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size double, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")

    with pytest.raises(TypeError, match="size:double"):
        fs_candidates(spark, str(tmp_path))


def test_fs_em_separates_clean_mixture(spark, tmp_path):
    """A constructed mixture of 2 all-agree duplicate pairs and 6
    all-disagree near-miss pairs (one candidate pair per block): EM
    must recover prevalence λ ≈ 2/8 and push the m's toward 1 and the
    u's toward 0 (both hitting their probability clamps on this
    perfectly separated data)."""
    from cost_of_living_data_etl_spark.plans.record_linkage import (
        q_fs_em_parameters,
    )

    parts, key = [], 1
    for k in range(1, 9):
        agree = k <= 2
        for v, pref in ((0, "aa"), (1, "ab")):
            brand = f"Brand#{k}" if agree else f"Brand#{k}_{v}"
            typ = f"T{k}" if agree else f"T{k}_{v}"
            size = 10 * k if agree else 10 * k + v
            parts.append((key, f"{pref} tok{k}", brand, typ, size))
            key += 1
    spark.createDataFrame(
        [(k, n, b, t, s, 900.0) for (k, n, b, t, s) in parts],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")

    r = q_fs_em_parameters(spark, str(tmp_path)).collect()[0]
    assert r["n_pairs"] == 8
    assert 0.2 < r["lambda_hat"] < 0.3
    for f in ("brand", "type", "size"):
        assert r[f"m_{f}"] >= 0.95
        assert r[f"u_{f}"] <= 0.02
