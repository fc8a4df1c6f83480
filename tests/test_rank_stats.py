"""Semantic tests for the rank/association family: perfect-monotone,
perfect-association, and perfectly-separated constructions with
exactly-known statistic values.
"""

from __future__ import annotations

import datetime

from cost_of_living_data_etl_spark.plans.rank_stats import (
    q_auc_quality_dup,
    q_cramers_v_status_priority,
    q_spearman_price_quantity,
)

BASE = datetime.datetime(2024, 1, 1)


def test_spearman_is_one_for_monotone_nonlinear(spark, tmp_path):
    """quantity = price³ is monotone but wildly nonlinear: Spearman
    must be EXACTLY 1.0 (rank vectors identical; the ratio reduces to
    A/√(A·A) over exact ints) where Pearson would be well below 1."""
    rows = [
        (i, 1, 1, 1, float(x**3), float(x), 0.0, 0.0, "A", "F", BASE)
        for i, x in enumerate(range(1, 21))
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    r = q_spearman_price_quantity(spark, str(tmp_path)).collect()[0]
    assert r["n_rows"] == 20
    assert r["spearman_rho"] == 1.0


def test_cramers_v_is_one_for_determined_pair(spark, tmp_path):
    """Status determines priority (diagonal 2×2 with equal cells):
    χ² = n exactly and V = 1.0."""
    rows = []
    for k in range(10):
        status, prio = ("O", "1-URGENT") if k % 2 == 0 else ("F", "5-LOW")
        rows.append((k, 1, status, 100.0, BASE, prio))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    r = q_cramers_v_status_priority(spark, str(tmp_path)).collect()[0]
    assert (r["n_orders"], r["n_status"], r["n_priorities"]) == (10, 2, 2)
    assert r["cramers_v"] == 1.0


def test_auc_zero_when_dups_score_lowest(spark, tmp_path):
    """Two identical junk docs (guaranteed LSH pair, low quality) vs
    wordy unique docs (high quality): every positive scores below
    every negative, so AUC = P(score₊ > score₋) = 0.0 exactly — pins
    the orientation of the rank-sum identity."""
    junk = "@@ ## $$ %% ^^ && ** (( )) !!"  # punct-soup → quality ~0
    goods = [
        "the quick brown fox jumps over the lazy dog in the field",
        "a tall ship sails across the wide sea with the wind behind",
        "morning light falls on the quiet town and the river runs",
        "children play in the park while the band plays for the crowd",
    ]
    texts = [junk, junk] + goods
    spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = q_auc_quality_dup(spark, str(tmp_path)).collect()[0]
    assert (r["n_dup"], r["n_unique"]) == (2, 4)
    assert r["auc"] == 0.0


def test_auc_null_when_no_dups(spark, tmp_path):
    """No near-dup pairs ⇒ degenerate label ⇒ auc NULL, not a crash
    or a fake 0.5."""
    texts = [f"completely unique document number {i} here" for i in range(4)]
    spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = q_auc_quality_dup(spark, str(tmp_path)).collect()[0]
    assert r["n_dup"] == 0
    assert r["auc"] is None


def test_ks_disjoint_distributions_d_is_one(spark, tmp_path):
    """Treatment values all below control: the ECDF gap reaches
    exactly 1 at the treatment's max (integer-scaled sup, no float
    comparisons decide it)."""
    rows = []
    for k in range(10):
        rows.append((k, 1, 10.0 + k, BASE))        # treatment (odd cust)
        rows.append((100 + k, 2, 100.0 + k, BASE))  # control (even cust)
    spark.createDataFrame(
        [(okey, c, "O", p, d, "1-URGENT") for (okey, c, p, d) in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from cost_of_living_data_etl_spark.plans.rank_stats import q_ks_two_sample

    r = q_ks_two_sample(spark, str(tmp_path)).collect()[0]
    assert (r["n_treat"], r["n_control"]) == (10, 10)
    assert r["ks_d"] == 1.0


def test_qte_picks_exact_order_statistics(spark, tmp_path):
    """Treatment 1..10, control 11..20: p50 = 5th smallest (5 vs 15),
    p90 = 9th (9 vs 19) — qte is a difference of data elements, −10.0
    exactly at both quantiles."""
    rows = []
    for k in range(1, 11):
        rows.append((k, 1, float(k), BASE))          # treatment
        rows.append((100 + k, 2, float(10 + k), BASE))  # control
    spark.createDataFrame(
        [(okey, c, "O", p, d, "1-URGENT") for (okey, c, p, d) in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from cost_of_living_data_etl_spark.plans.rank_stats import (
        q_quantile_treatment_effects,
    )

    got = {
        r["p"]: (r["q_treat"], r["q_control"], r["qte"])
        for r in q_quantile_treatment_effects(spark, str(tmp_path)).collect()
    }
    assert got == {50: (5.0, 15.0, -10.0), 90: (9.0, 19.0, -10.0)}


def _arm(uid: int) -> int:
    """Replicate the engine's md5-parity arm assignment locally."""
    import hashlib

    return (int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 100) % 2


def test_bh_fdr_rejects_only_the_shifted_family_member(spark, tmp_path):
    """Five event types, one with a massive arm shift: BH must reject
    exactly that one (rank-1 p far under q/m) and keep the four null
    types — the family-wise discipline a per-test flag lacks."""
    import datetime

    from cost_of_living_data_etl_spark.plans.ab_guardrails import q_bh_fdr_event_tests

    base = datetime.datetime(2024, 1, 1)
    users0 = [u for u in range(200) if _arm(u) == 0][:30]
    users1 = [u for u in range(200) if _arm(u) == 1][:30]
    rows = []
    eid = 0
    for etype in ("a", "b", "c", "d", "shifted"):
        for i, u in enumerate(users0 + users1):
            treated = _arm(u) == 1 and etype == "shifted"
            # null types: identical values both arms; shifted: +100 on arm 1
            val = 10.0 + (i % 7) + (100.0 if treated else 0.0)
            rows.append((eid, base, u, etype, val, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        r["event_type"]: (r["rejected"], r["p_rank"])
        for r in q_bh_fdr_event_tests(spark, str(tmp_path)).collect()
    }
    assert got["shifted"][0] is True and got["shifted"][1] == 1
    for t in ("a", "b", "c", "d"):
        assert got[t][0] is False, (t, got[t])


def test_logistic_irls_separates_constructed_classes(spark, tmp_path):
    """Orders with status F get systematically larger quantities: after
    2 Newton rounds the quantity coefficient must be positive and the
    in-sample accuracy far above the 50% base rate."""
    from cost_of_living_data_etl_spark.plans.mllite import q_logistic_irls_status

    import datetime

    base = datetime.datetime(2020, 1, 1)
    orders, lines = [], []
    for k in range(200):
        status = "F" if k % 2 == 0 else "O"
        qty = 400.0 + (k % 10) if status == "F" else 50.0 + (k % 10)
        orders.append((k, 1, status, 100.0, base, "3-MEDIUM"))
        lines.append((k, 1, 1, 1, qty, qty * 2, 0.0, 0.0, "N", "O", base))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    r = q_logistic_irls_status(spark, str(tmp_path)).collect()[0]
    assert r["n_orders"] == 200
    assert r["beta1"] > 0  # more quantity -> more likely F
    assert r["train_accuracy"] >= 0.95, r["train_accuracy"]


def test_cuped_removes_baseline_variance(spark, tmp_path):
    """Users carry big stable baselines; treatment adds a fixed delta
    in the post period only. CUPED (theta ~ 1) must recover the true
    delta more tightly than the raw uplift and report a large variance
    reduction — the whole point of the adjustment."""
    import datetime

    from cost_of_living_data_etl_spark.plans.ab_guardrails import (
        q_cuped_adjusted_uplift,
    )

    delta = 25.0
    pre_day = datetime.datetime(2024, 1, 5)
    post_day = datetime.datetime(2024, 1, 20)
    rows, eid = [], 0
    for u in range(120):
        baseline = 50.0 + 13.0 * (u % 17)  # large between-user spread
        treated = _arm(u) == 1
        rows.append((eid, pre_day, u, "view", baseline, "{}")); eid += 1
        rows.append(
            (eid, post_day, u, "view",
             baseline + (delta if treated else 0.0), "{}")
        ); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = q_cuped_adjusted_uplift(spark, str(tmp_path)).collect()[0]
    assert abs(r["theta"] - 1.0) < 0.05, r["theta"]
    assert abs(r["uplift_cuped"] - delta) < 1.0, r["uplift_cuped"]
    assert abs(r["uplift_cuped"] - delta) <= abs(r["uplift_raw"] - delta)
    assert r["variance_reduction"] > 0.5, r["variance_reduction"]


def test_cuped_biased_when_treatment_precedes_split(spark, tmp_path):
    """Round-4 advice: the days-1..14 covariate is pre-exposure ONLY
    under the hard contract that treatment starts at CUPED_SPLIT_DAY.
    Violate it — the same fixed delta applied in BOTH windows for the
    treated arm — and theta must absorb part of the effect, pulling
    uplift_cuped measurably below the true post-window delta while
    uplift_raw still reads it. This pins the documented failure mode
    (and the contract) as executable semantics, not a docstring."""
    import datetime

    from cost_of_living_data_etl_spark.plans.ab_guardrails import (
        CUPED_SPLIT_DAY,
        q_cuped_adjusted_uplift,
    )

    delta = 25.0
    pre_day = datetime.datetime(2024, 1, 5)
    post_day = datetime.datetime(2024, 1, 20)
    assert pre_day.day < CUPED_SPLIT_DAY <= post_day.day  # the contract
    rows, eid = [], 0
    for u in range(120):
        baseline = 50.0 + 13.0 * (u % 17)
        bump = delta if _arm(u) == 1 else 0.0  # active the WHOLE month
        rows.append((eid, pre_day, u, "view", baseline + bump, "{}")); eid += 1
        rows.append((eid, post_day, u, "view", baseline + bump, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = q_cuped_adjusted_uplift(spark, str(tmp_path)).collect()[0]
    # raw uplift still sees the effect (plus the arms' baseline
    # imbalance, which the hash assignment leaves in)...
    assert r["uplift_raw"] > delta / 2, r["uplift_raw"]
    # ...but theta (=1 here: pre == post per user) absorbs it: the
    # adjusted uplift collapses to ~zero — the whole effect is eaten.
    assert abs(r["uplift_cuped"]) < delta / 10, r["uplift_cuped"]


def test_shapley_credits_only_the_converting_channel(spark, tmp_path):
    """Counting game on constructed journeys — 20 conversions with
    coalition {click}, 20 with {click, view}, 20 non-converting {view}:
    hand-computed Shapley gives click 30 and view 10 conversions (sum
    = the 40 total: efficiency), and the never-touched channels get
    EXACTLY zero (the property the exact-set/unobserved-zero variant
    violates with negative credit)."""
    import datetime

    from cost_of_living_data_etl_spark.plans.attribution_markov import (
        q_shapley_channel_attribution,
    )

    day = datetime.datetime(2024, 1, 3)
    rows, eid = [], 0
    for u in range(20):   # {click} -> converted
        rows.append((eid, day, u, "click", 1.0, "{}")); eid += 1
        rows.append((eid, day, u, "purchase", 1.0, "{}")); eid += 1
    for u in range(20, 40):  # {view} -> not converted
        rows.append((eid, day, u, "view", 1.0, "{}")); eid += 1
    for u in range(40, 60):  # {click, view} -> converted
        rows.append((eid, day, u, "click", 1.0, "{}")); eid += 1
        rows.append((eid, day, u, "view", 1.0, "{}")); eid += 1
        rows.append((eid, day, u, "purchase", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        r["channel"]: (r["shapley_conversions"], r["share"])
        for r in q_shapley_channel_attribution(spark, str(tmp_path)).collect()
    }
    assert abs(got["click"][0] - 30.0) < 1e-9, got
    assert abs(got["view"][0] - 10.0) < 1e-9, got
    assert got["error"][0] == 0.0 and got["signup"][0] == 0.0
    assert abs(sum(v[0] for v in got.values()) - 40.0) < 1e-9  # efficiency
    assert abs(got["click"][1] - 0.75) < 1e-9


def test_james_stein_shrinks_small_groups_harder(spark, tmp_path):
    """A 3-part brand at an extreme mean must get a LARGER shrinkage
    factor than a 100-part brand, and its shrunk mean moves strictly
    toward the grand mean while staying on its own side of it."""
    from cost_of_living_data_etl_spark.plans.inference import q_james_stein_brand_price

    rows = []
    pk = 0
    for i in range(100):  # big brand around 10
        rows.append((pk, f"part{pk}", "Brand#1", "STD", 1, 10.0 + (i % 5) * 0.5)); pk += 1
    for i in range(100):  # big brand around 20
        rows.append((pk, f"part{pk}", "Brand#2", "STD", 1, 20.0 + (i % 5) * 0.5)); pk += 1
    for i in range(3):    # tiny brand at an extreme 50
        rows.append((pk, f"part{pk}", "Brand#3", "STD", 1, 50.0 + i * 0.5)); pk += 1
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    got = {
        r["brand"]: (r["shrinkage_b"], r["mean_raw"], r["mean_shrunk"])
        for r in q_james_stein_brand_price(spark, str(tmp_path)).collect()
    }
    grand = (100 * 11.0 + 100 * 21.0 + 3 * 50.5) / 203
    b3, b1 = got["Brand#3"], got["Brand#1"]
    assert b3[0] > b1[0]  # tiny group shrinks harder
    assert grand < b3[2] < b3[1]  # moved toward grand mean, same side
    assert abs(b1[2] - b1[1]) < abs(b3[2] - b3[1])


def test_wasserstein_pure_shift_equals_delta(spark, tmp_path):
    """A pure location shift: control values {10, 20, 30}, treatment =
    control + 5.00 (custkey parity assigns arms). W₁ must equal the
    shift EXACTLY (5.0), the effect-size property that motivates it —
    KS on the same fixture is a size-blind sup statistic."""
    from cost_of_living_data_etl_spark.plans.rank_stats import (
        q_wasserstein_arm_shift,
    )

    rows = []
    k = 0
    for v in (10.0, 20.0, 30.0):
        for _ in range(4):
            rows.append((k, 0, "O", v, BASE, "1-URGENT"))  # arm 0
            k += 1
            rows.append((k, 1, "O", v + 5.0, BASE, "1-URGENT"))  # arm 1
            k += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    r = q_wasserstein_arm_shift(spark, str(tmp_path)).collect()[0]
    assert r["n_treat"] == 12 and r["n_control"] == 12
    assert abs(r["w1_distance"] - 5.0) < 1e-12


def test_wasserstein_identical_arms_is_zero(spark, tmp_path):
    from cost_of_living_data_etl_spark.plans.rank_stats import (
        q_wasserstein_arm_shift,
    )

    rows = []
    for k in range(20):
        rows.append((k, k, "O", 50.0 + (k // 2), BASE, "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    r = q_wasserstein_arm_shift(spark, str(tmp_path)).collect()[0]
    assert r["w1_distance"] == 0.0


def test_antitonic_fit_pools_violators_weighted(spark):
    """Hand-computed PAVA: rates (0.9, 0.2, 0.4, 0.1) with weights
    (10, 10, 10, 10) violate nonincreasing at bins 2→3; the fit pools
    exactly that adjacent pair to its weighted mean 0.3 and leaves the
    rest untouched. A second, weighted case: rates (0.0, 2/3) with
    weights (1, 3) pool to (0+2)/4 = 0.5 for BOTH bins (antitonic ⇒
    an increasing pair always collapses to one level)."""
    from cost_of_living_data_etl_spark.plans.rank_stats import antitonic_fit

    binned = spark.createDataFrame(
        [(0, 10, 9), (1, 10, 2), (2, 10, 4), (3, 10, 1)],
        "bin long, n long, pos long",
    )
    got = {r["bin"]: (r["raw_rate"], r["iso_rate"])
           for r in antitonic_fit(binned).collect()}
    assert got[0] == (0.9, 0.9)
    assert got[1] == (0.2, 0.3)
    assert got[2] == (0.4, 0.3)
    assert got[3] == (0.1, 0.1)

    binned2 = spark.createDataFrame(
        [(0, 1, 0), (1, 3, 2)], "bin long, n long, pos long"
    )
    got2 = {r["bin"]: r["iso_rate"] for r in antitonic_fit(binned2).collect()}
    assert got2[0] == got2[1] == 0.5


def test_antitonic_fit_identity_on_monotone_input(spark):
    """An already-nonincreasing rate sequence is a fixed point of the
    PAVA projection — no pooling, fit equals raw everywhere."""
    from cost_of_living_data_etl_spark.plans.rank_stats import antitonic_fit

    binned = spark.createDataFrame(
        [(0, 4, 4), (1, 8, 4), (2, 10, 2), (3, 5, 0)],
        "bin long, n long, pos long",
    )
    for r in antitonic_fit(binned).collect():
        assert r["iso_rate"] == r["raw_rate"]


def test_brier_murphy_exact_decompositions(spark):
    """Three hand cases: a perfect sharp forecaster (BS=0, REL=0,
    RES=UNC); a constant-0.5 forecaster on a balanced label (BS=0.25,
    all structure in UNC); and a single-bin case whose within-bin
    prediction dispersion is exactly the reported gap."""
    from cost_of_living_data_etl_spark.plans.rank_stats import brier_murphy

    perfect = spark.createDataFrame(
        [(0.0, 0), (1.0, 1)], "p double, y int"
    )
    r = brier_murphy(perfect).collect()[0]
    assert r["brier"] == 0.0 and r["reliability"] == 0.0
    assert r["resolution"] == 0.25 and r["uncertainty"] == 0.25
    assert r["within_bin_gap"] == 0.0

    flat = spark.createDataFrame([(0.5, 0), (0.5, 1)], "p double, y int")
    r = brier_murphy(flat).collect()[0]
    assert r["brier"] == 0.25
    assert r["reliability"] == 0.0 and r["resolution"] == 0.0
    assert r["uncertainty"] == 0.25 and r["within_bin_gap"] == 0.0

    dispersed = spark.createDataFrame(
        [(0.0, 0), (0.04, 0)], "p double, y int"
    )
    r = brier_murphy(dispersed).collect()[0]
    # brier = (0 + 0.0016)/2 = 8e-4; rel = (0.02)^2 = 4e-4; gap = var(p)
    assert abs(r["brier"] - 8e-4) < 1e-15
    assert abs(r["reliability"] - 4e-4) < 1e-15
    assert r["resolution"] == 0.0 and r["uncertainty"] == 0.0
    assert abs(r["within_bin_gap"] - 4e-4) < 1e-15
