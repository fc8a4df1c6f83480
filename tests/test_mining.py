"""Semantic regression tests for the mining family — reciprocity,
robust-zero MAD, and degenerate-graph handling the shared-spec oracle
gate can't distinguish.
"""

from __future__ import annotations

import datetime

import pytest

from cost_of_living_data_etl_spark.plans.mining import (

    q_dupgraph_assortativity,
    q_mad_robust_outlier_days,
    q_mutual_nn_pairs,
)
from conftest import TESTDATA


def test_mutual_nn_requires_reciprocity(spark, tmp_path):
    """a0's best match is b1, but b1's best is a4 — so (a0, b1) must
    NOT survive; only the reciprocal pair (a4, b1) does. b5's best is
    a0, unreciprocated — no pair for b5 either."""
    rows = [
        (0, [1.0, 0.2], 0),  # A side (vec_id % 4 == 0)
        (4, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 1),  # B side (vec_id % 4 == 1)
        (5, [0.0, 1.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = [
        (r["a_id"], r["b_id"], round(r["cos_sim"], 9))
        for r in q_mutual_nn_pairs(spark, str(tmp_path)).collect()
    ]
    assert got == [(4, 1, 1.0)]


def test_mad_zero_flags_any_deviation(spark, tmp_path):
    """9 identical days make both median and MAD exact zeros of
    deviation; the single spiked day deviates > 5·0 and must be the
    ONLY flagged row (and mad must be exactly 0.0, not an
    interpolated near-zero)."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (k, 1, "O", 100.0, base + datetime.timedelta(days=k), "1-URGENT")
        for k in range(9)
    ]
    rows.append((9, 1, "O", 1000.0, base + datetime.timedelta(days=9), "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = q_mad_robust_outlier_days(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["day"].date().isoformat() == "2024-01-10"
    assert r["mad"] == 0.0
    assert r["abs_dev"] == 900.0


def test_assortativity_null_on_regular_graph(spark, tmp_path):
    """Four identical documents form a complete dup graph: every
    degree is 3, the degree variance is zero, and the correlation must
    be NULL (not NaN, not 0) over the 12 directed edges."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    spark.createDataFrame(
        [(i, text, "en", "test", len(text)) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = q_dupgraph_assortativity(spark, str(tmp_path)).collect()[0]
    assert r["n_directed_edges"] == 12
    assert r["assortativity"] is None


def _write_clique_and_pair(spark, path):
    """Four identical docs (a K4), one identical pair, one singleton."""
    clique = "alpha beta gamma delta epsilon zeta eta theta"
    pair = "one two three four five six seven eight nine"
    texts = [clique] * 4 + [pair] * 2 + ["solo unique text number ten eleven"]
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_kcore_keeps_cliques_peels_pendant_pairs(spark, tmp_path):
    """Four identical docs (K4) survive the 2-core with degree 3; an
    isolated identical PAIR (one edge, degree 1 each) must peel away,
    as must singletons with no edges at all."""
    _write_clique_and_pair(spark, tmp_path)
    from cost_of_living_data_etl_spark.plans.mining import q_kcore_dup_graph

    got = {
        r["doc_id"]: r["core_degree"]
        for r in q_kcore_dup_graph(spark, str(tmp_path)).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_raises_when_round_cap_leaves_it_unsettled(spark, tmp_path, monkeypatch):
    """The pendant pair needs one peeling round: with a cap of 0 the
    builder must raise instead of returning the unpeeled graph."""
    from cost_of_living_data_etl_spark.plans import mining

    _write_clique_and_pair(spark, tmp_path)
    monkeypatch.setattr(mining, "KCORE_ROUNDS", 0)
    with pytest.raises(RuntimeError, match="KCORE_ROUNDS"):
        mining.q_kcore_dup_graph(spark, str(tmp_path))


def test_mutual_nn_dense_guard_refuses_large_input(spark, monkeypatch):
    """The dense |A|x|B| instrument must not be plannable on
    production-sized input from the public catalog (round-3 verdict:
    it silently went quadratic); the error routes to the ANN-fed
    variant."""
    import pytest

    import cost_of_living_data_etl_spark.plans.mining as mining

    monkeypatch.setattr(mining, "MAX_MUTUAL_NN_ROWS", 10)
    with pytest.raises(ValueError, match="q_mutual_nn_ann"):
        mining.q_mutual_nn_pairs(spark, f"{TESTDATA}/sf0.01")


def test_mutual_nn_ann_precision_and_recall_vs_dense(spark):
    """Every ANN-fed mutual pair whose two sides share an IVF cell with
    their dense-best partners agrees with the dense instrument on the
    cosine value; overall pair recall vs the dense mutual set has a
    measured floor (candidates are cell-restricted, so recall < 1 by
    design — but near-duplicate-grade pairs land in the same Voronoi
    cell with high probability)."""
    from cost_of_living_data_etl_spark.plans.catalog import catalog

    sf = f"{TESTDATA}/sf0.01"
    dense = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in catalog()["q_mutual_nn_pairs"].fn(spark, sf).collect()
    }
    ann = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in catalog()["q_mutual_nn_ann"].fn(spark, sf).collect()
    }
    # recall floor vs the dense mutual set (measured ~0.5+ on the
    # near-uniform fixture; structured corpora sit far higher)
    hit = set(dense) & set(ann)
    assert len(hit) / max(len(dense), 1) >= 0.3, (len(hit), len(dense))
    # on agreeing pairs the cosine is the SAME number (same fold)
    for k in hit:
        assert abs(dense[k] - ann[k]) < 1e-12


def test_mutual_nn_ann_guard_refuses_fixed_k_blowup(spark, monkeypatch):
    """The fixed-k catalog form of the ANN-fed mutual NN is still
    quadratic/k (measured 4.3x per corpus doubling at IVF_K=8); above
    the bound it must refuse and instruct k ∝ N scaling."""
    import pytest

    import cost_of_living_data_etl_spark.plans.mining as mining

    monkeypatch.setattr(mining, "MAX_MNN_ANN_ROWS", 10)
    with pytest.raises(ValueError, match="k ∝ N"):
        mining.q_mutual_nn_ann(spark, f"{TESTDATA}/sf0.01")


def test_clustering_profile_triangle_plus_pendant(spark):
    """Hand graph: triangle {1,2,3} plus pendant edge (3,4). Degree-2
    nodes 1 and 2 close their single wedge (cc = 1); node 3 (degree 3)
    closes one of its three wedges (cc = 1/3); node 4 (degree 1) is
    excluded. Both closure estimators are exactly known per bucket."""
    from cost_of_living_data_etl_spark.operators.dedup import (
        clustering_profile,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_id_1 long, doc_id_2 long"
    )
    got = {r["deg_bucket"]: r for r in clustering_profile(pairs).collect()}
    assert set(got) == {2, 3}
    b2, b3 = got[2], got[3]
    assert (b2["n_nodes"], b2["tri_memberships"]) == (2, 2)
    assert b2["wedge_closure"] == 1.0 and b2["avg_local_cc"] == 1.0
    assert (b3["n_nodes"], b3["tri_memberships"]) == (1, 1)
    assert b3["wedge_closure"] == 2 / 6 and b3["avg_local_cc"] == 1 / 3


def test_clustering_profile_triangle_free_graph_is_all_zero(spark):
    """A path graph has wedges but no triangles: every closure
    statistic must be exactly 0, not NULL (the t=0 left-join path)."""
    from cost_of_living_data_etl_spark.operators.dedup import (
        clustering_profile,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_id_1 long, doc_id_2 long"
    )
    rows = clustering_profile(pairs).collect()
    assert rows, "degree-2 interior nodes must appear"
    for r in rows:
        assert r["tri_memberships"] == 0
        assert r["wedge_closure"] == 0.0
        assert r["avg_local_cc"] == 0.0
