"""Semantic hand-case tests for the round-8 operators: closed-form
fixtures where the correct answer is computable on paper, so these
catch the both-engines-agree-on-wrong class the oracle hash gate is
blind to (the round-6 winnowing lesson)."""

from __future__ import annotations

import math

from cost_of_living_data_etl_spark.plans import catalog
from cost_of_living_data_etl_spark.plans.corpus_prep import COVERAGE_KS, HILL_K
from cost_of_living_data_etl_spark.plans.feature_prep import CURRICULUM_PHASES
from cost_of_living_data_etl_spark.plans.reshape import PPS_DRAWS


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")


def _write_orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")


def _doc(doc_id, n_chars, source="A"):
    return (doc_id, "x" * n_chars, "en", source, n_chars)


# --------------------------------------------------------------- PPS sample


def test_pps_doc_larger_than_stride_absorbs_multiple_draws(spark, tmp_path):
    """One document holding >half the character mass must receive
    several of the 20 grid points (that is the PPS contract), and
    every grid point lands in exactly one interval."""
    rows = [_doc(1, 10), _doc(2, 1000), _doc(3, 10)]  # W=1020, stride=51
    _write_docs(spark, tmp_path, rows)
    got = catalog()["q_pps_char_weighted_sample"].fn(spark, str(tmp_path)).collect()
    assert len(got) == PPS_DRAWS  # each draw selects exactly one doc
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r["draw_idx"])
    # doc 2 holds 1000/1020 of the mass -> at least 18 of 20 draws
    assert len(by_doc.get(2, [])) >= 18
    # paper check for draw 0: g0 = (1*1020) DIV 40 = 25 -> inside doc 2's
    # interval [10, 1010)
    d0 = [r for r in got if r["draw_idx"] == 0]
    assert len(d0) == 1 and d0[0]["doc_id"] == 2 and d0[0]["cum_before"] == 10


def test_pps_uniform_sizes_degenerate_to_systematic(spark, tmp_path):
    """Equal sizes: PPS reduces to plain systematic sampling — draws
    hit evenly spaced docs, none twice (stride == doc size x 2)."""
    rows = [_doc(i, 100) for i in range(1, 41)]  # W=4000, stride=200
    _write_docs(spark, tmp_path, rows)
    got = catalog()["q_pps_char_weighted_sample"].fn(spark, str(tmp_path)).collect()
    docs = sorted(r["doc_id"] for r in got)
    # g_i = (2i+1)*100 lands at the START of every even doc's interval
    # [100(j-1), 100j) -> docs 2, 4, ..., 40; no repeats
    assert docs == list(range(2, 41, 2))


# ------------------------------------------------------- curriculum phases


def test_curriculum_phases_split_mass_not_counts(spark, tmp_path):
    """One giant doc + many small ones: phase = which mass-quarter the
    doc's interval STARTS in, so all 30 small docs (first 300 of 1200
    chars = exactly the first quarter) land in phase 1 and the giant
    (starting at 300 = the second quarter) lands in phase 2 — a
    doc-count split would scatter the small docs across phases."""
    rows = [_doc(i, 10) for i in range(1, 31)] + [_doc(99, 900)]  # W=1200
    _write_docs(spark, tmp_path, rows)
    got = {
        r["phase"]: r
        for r in catalog()["q_curriculum_length_phases"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(got) == {1, 2}  # later quarters sit inside the giant
    assert got[1]["n_docs"] == 30 and got[1]["max_chars"] == 10
    assert got[2]["n_docs"] == 1 and got[2]["min_chars"] == 900
    # mass accounting is exact
    assert sum(r["chars_total"] for r in got.values()) == 1200
    assert CURRICULUM_PHASES == 4  # the grid the phase index quantizes


def test_curriculum_is_shortest_first(spark, tmp_path):
    """Phase length bands must be non-decreasing across phases."""
    rows = [_doc(i, 10 * i) for i in range(1, 41)]
    _write_docs(spark, tmp_path, rows)
    got = sorted(
        catalog()["q_curriculum_length_phases"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["phase"],
    )
    for a, b in zip(got, got[1:]):
        assert a["max_chars"] <= b["min_chars"]


# ----------------------------------------------------------- Mann-Whitney U


def test_mann_whitney_hand_case_with_ties(spark, tmp_path):
    """x = URGENT {1, 3, 3}, y = LOW {2, 3}: midranks 1,2,4,4,4 ->
    Rx = 1+4+4 = 9, U = 9 - 3*4/2 = 3 (hand-computed, tie-corrected
    sigma from T = 3^3-3 = 24)."""
    import datetime

    d = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 1, "O", 1.0, d, "1-URGENT"),
        (2, 1, "O", 3.0, d, "1-URGENT"),
        (3, 1, "O", 3.0, d, "1-URGENT"),
        (4, 1, "O", 2.0, d, "5-LOW"),
        (5, 1, "O", 3.0, d, "5-LOW"),
        (6, 1, "O", 99.0, d, "3-MEDIUM"),  # other priorities ignored
    ]
    _write_orders(spark, tmp_path, rows)
    [r] = catalog()["q_mann_whitney_order_value"].fn(spark, str(tmp_path)).collect()
    assert (r["nx"], r["ny"]) == (3, 2)
    assert r["u_stat"] == 3.0
    n = 5
    sigma = math.sqrt(3 * 2 / 12.0 * ((n + 1) - 24 / (n * (n - 1.0))))
    assert abs(r["z_score"] - (3.0 - 3.0) / sigma) < 1e-12  # mu = nx*ny/2 = 3


# ------------------------------------------------------- Hodges-Lehmann


def test_hodges_lehmann_pure_location_shift(spark, tmp_path):
    """y is exactly x - 7 day-by-day: every pairwise difference whose
    days align is 7; the HL median equals the shift when the shift is
    constant (here: single-day groups make ALL differences 7)."""
    import datetime

    rows = []
    for i, day in enumerate(range(1, 6)):
        d = datetime.datetime(2024, 1, day)
        rows.append((100 + i, 1, "O", 50.0, d, "1-URGENT"))
        rows.append((200 + i, 1, "O", 43.0, d, "5-LOW"))
    _write_orders(spark, tmp_path, rows)
    [r] = catalog()["q_hodges_lehmann_uplift"].fn(spark, str(tmp_path)).collect()
    assert r["n_pairs"] == 25
    assert r["hl_shift"] == 7.0


# ------------------------------------------------------------ Hill index


def test_hill_alpha_recovers_pareto_exponent(spark, tmp_path):
    """Lengths drawn from an exact Pareto(alpha=2) inverse-CDF grid:
    x_i = round(100 / sqrt(u_i)) — the Hill estimate over the top-k
    must land near 2 (the estimator's defining property)."""
    n = 3000
    rows = [
        _doc(i, max(100, round(100.0 / math.sqrt((i + 0.5) / n))))
        for i in range(n)
    ]
    _write_docs(spark, tmp_path, rows)
    [r] = catalog()["q_hill_tail_index_lengths"].fn(spark, str(tmp_path)).collect()
    assert r["k"] == HILL_K
    assert 1.6 < r["hill_alpha"] < 2.4, r["hill_alpha"]


# ----------------------------------------------------- vocab coverage curve


def test_vocab_coverage_hand_counts(spark, tmp_path):
    """Corpus 'a a a a b b c d': top-1 covers 4/8, top-2 covers 6/8,
    any k >= 4 covers everything; ties at count 1 are broken by word
    but never change covered MASS."""
    rows = [(1, "a a a a b b c d", "en", "A", 15)]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["k"]: r
        for r in catalog()["q_vocab_coverage_curve"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(COVERAGE_KS)
    k_small = min(COVERAGE_KS)  # 5 >= vocab 4 -> full coverage already
    assert got[k_small]["covered_tokens"] == 8
    assert got[k_small]["coverage"] == 1.0
    # a 2-word head probe via a second corpus
    rows = [(1, "a a a a b b c d e f g h", "en", "A", 23)]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["k"]: r
        for r in catalog()["q_vocab_coverage_curve"].fn(spark, str(tmp_path)).collect()
    }
    assert got[min(COVERAGE_KS)]["covered_tokens"] == 4 + 2 + 1 + 1 + 1  # top-5
    assert got[min(COVERAGE_KS)]["total_tokens"] == 12


# ------------------------------------------------------- lateral top-k


def test_lateral_topk_is_per_customer_and_tie_stable(spark, tmp_path):
    import datetime

    d = datetime.datetime(2024, 1, 1)
    rows = [
        # customer 1: five orders, two tied at the k-boundary value
        (1, 1, "O", 500.0, d, "1-URGENT"),
        (2, 1, "O", 400.0, d, "1-URGENT"),
        (3, 1, "O", 300.0, d, "1-URGENT"),
        (4, 1, "O", 300.0, d, "1-URGENT"),
        (5, 1, "O", 100.0, d, "1-URGENT"),
        # customer 2: a single order
        (6, 2, "O", 50.0, d, "5-LOW"),
    ]
    _write_orders(spark, tmp_path, rows)
    spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "c_custkey long, c_name string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = sorted(
        (r["c_custkey"], r["o_orderkey"])
        for r in catalog()["q_lateral_topk_orders"].fn(spark, str(tmp_path)).collect()
    )
    # tie at 300 broken by o_orderkey -> order 3 in, order 4 out;
    # customer 2 keeps its single order; customer 3 (no orders) drops
    assert got == [(1, 1), (1, 2), (1, 3), (2, 6)]


# ------------------------------------------------- minhash calibration


def test_minhash_calibration_identical_docs_agree_fully(spark, tmp_path):
    """Two byte-identical docs: exact Jaccard 1.0 and all 16 signature
    components match -> one calibration row at n_matches=16 with zero
    bias. Unrelated fillers must not produce pairs."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, text, "en", "A", len(text)),
        (2, text, "en", "B", len(text)),
    ]
    for i in range(3, 9):
        filler = f"totally unrelated filler document number {i} " + " ".join(
            f"tok{i}{j}" for j in range(25)
        )
        rows.append((i, filler, "en", "C", len(filler)))
    _write_docs(spark, tmp_path, rows)
    got = catalog()["q_minhash_jaccard_calibration"].fn(spark, str(tmp_path)).collect()
    assert len(got) == 1
    [r] = got
    assert r["n_matches"] == 16
    assert r["est_jaccard"] == 1.0
    assert r["n_pairs"] == 1
    assert r["mean_exact_jaccard"] == 1.0
    assert r["bias"] == 0.0
