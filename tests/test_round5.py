"""Semantic tests for the round-5 operators.

The oracle gate proves Spark ↔ DuckDB agreement; these tests pin the
INTENT on constructed fixtures — the cases where a plausible-but-wrong
implementation would still agree with a plausible-but-wrong oracle.
"""

from __future__ import annotations

import datetime

import pytest

from cost_of_living_data_etl_spark.operators import dedup
from cost_of_living_data_etl_spark.operators.dedup import star_components
from cost_of_living_data_etl_spark.plans.catalog import catalog


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")


def test_asof_join_matches_latest_view_at_or_before(spark, tmp_path):
    """Constructed timeline: the purchase must take the LATEST view at
    or before it (ties at identical ts count), never a later one; a
    purchase with no prior view is dropped."""
    t = lambda m: datetime.datetime(2024, 1, 1, 10, m)
    rows = [
        # user 1: views at 10:00, 10:05; purchase 10:05 (tie!), 10:07
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(5), 1, "view", 1.0, "{}"),
        (3, t(5), 1, "purchase", 9.0, "{}"),
        (4, t(7), 1, "purchase", 9.0, "{}"),
        # user 2: purchase BEFORE any view -> dropped; later view is
        # not a match for it
        (5, t(1), 2, "purchase", 9.0, "{}"),
        (6, t(2), 2, "view", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["purchase_id"]: (r["last_view_ts"], r["gap_seconds"])
        for r in catalog()["q_asof_join_purchase_view"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(got) == {3, 4}
    assert got[3] == (t(5), 0.0)  # same-ts view IS at-or-before
    assert got[4] == (t(5), 120.0)  # latest prior view, not 10:00


def test_winsorized_mean_resists_one_outlier(spark, tmp_path):
    """One 1000× outlier in a 40-part brand: raw mean jumps, the 5/95
    winsorized mean barely moves (clamped at the in-group p95)."""
    rows = []
    for i in range(40):
        rows.append((i, f"part{i}", "B#1", "t", 1, 100.0 + i))
    rows.append((99, "lux", "B#1", "t", 1, 100000.0))
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    r = (
        catalog()["q_winsorized_price_by_brand"]
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    assert r["raw_mean"] > 2000  # outlier dominates the plain mean
    assert r["winsorized_mean"] < 150, r["winsorized_mean"]


def test_ewma_constant_series_hits_truncated_weight_mass(spark, tmp_path):
    """On a constant daily series c, the truncated 10-lag EWMA equals
    c · (1 − (1−α)^10) exactly — the documented truncation bound."""
    from cost_of_living_data_etl_spark.plans.forecast import EWMA_ALPHA, EWMA_LAGS

    rows = []
    for d in range(30):
        rows.append(
            (
                d,
                1,
                "O",
                200.0,
                datetime.datetime(2024, 1, 1 + d),
                "1-URGENT",
                "c",
            )
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string, o_comment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = catalog()["q_ewma_daily_revenue"].fn(spark, str(tmp_path)).collect()
    want = 200.0 * (1 - (1 - EWMA_ALPHA) ** EWMA_LAGS)
    assert len(out) == 30 - (EWMA_LAGS - 1)
    for r in out:
        assert abs(r["ewma"] - want) < 1e-9, (r["day"], r["ewma"], want)


def test_stratified_hash_sample_is_layout_invariant(spark, sf_smoke):
    """The md5-ordered sample must be IDENTICAL however the input is
    partitioned — the property that makes it reproducible on any
    cluster. Compare against a repartitioned copy of the same table."""
    import shutil
    import tempfile

    src = f"{sf_smoke}/orders.parquet"
    tmp = tempfile.mkdtemp()
    try:
        spark.read.parquet(src).repartition(13).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/orders.parquet")
        a = sorted(
            map(
                tuple,
                catalog()["q_stratified_hash_sample"]
                .fn(spark, sf_smoke)
                .collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                catalog()["q_stratified_hash_sample"].fn(spark, tmp).collect(),
            )
        )
        assert a == b
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_l_diversity_flags_homogeneous_cell(spark, tmp_path):
    """A QI cell whose members all share one sensitive value must be
    flagged (homogeneity attack); a mixed cell must pass."""
    rows = []
    # 1995 cell: all status O (homogeneous)
    for i in range(10):
        rows.append((i, 1, "O", 10.0, datetime.datetime(1995, 3, 1), "1-URGENT", "c"))
    # 1996 cell: statuses O and F (diverse)
    for i in range(10, 20):
        rows.append(
            (i, 1, "O" if i % 2 else "F", 10.0,
             datetime.datetime(1996, 3, 1), "1-URGENT", "c")
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string, o_comment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["order_year"]: r["l_diverse"]
        for r in catalog()["q_l_diversity_audit"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1995: False, 1996: True}


def test_negative_sampling_shape_and_determinism(spark, sf_smoke):
    q = catalog()["q_negative_sampling_pairs"].fn
    a = sorted(map(tuple, q(spark, sf_smoke).collect()))
    b = sorted(map(tuple, q(spark, sf_smoke).collect()))
    assert a == b  # fully deterministic
    assert all(doc != neg for doc, _rank, neg in a)  # no self-pairs
    # ≥ 2 negatives per anchor survive the self-collision drop
    from collections import Counter

    per_doc = Counter(doc for doc, _r, _n in a)
    assert min(per_doc.values()) >= 2
    assert max(per_doc.values()) <= 3


def _chain(spark, n):
    docs = spark.range(n).selectExpr("id")
    pairs = spark.range(n - 1).selectExpr("id AS doc_id_1", "id + 1 AS doc_id_2")
    return docs, pairs


def test_star_components_long_chain_converges_in_fixed_rounds(spark):
    """A 400-node PATH graph (diameter 399): min-label propagation
    needs ~399 rounds; star contraction must label the whole chain as
    ONE component within its fixed CC_STAR_MAX_ROUNDS budget — the
    O(log² n) claim on the adversarial topology."""
    n = 400
    labels = star_components(*_chain(spark, n)).collect()
    assert len(labels) == n
    assert {r["cluster_id"] for r in labels} == {0}


def test_star_components_raises_when_round_budget_is_too_small(spark, monkeypatch):
    """The same chain cannot settle in one round: the
    loop must raise, never return unconverged labels."""
    monkeypatch.setattr(dedup, "CC_STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        star_components(*_chain(spark, 400))


def test_star_components_no_pairs_labels_every_doc_itself(spark):
    """An empty pair frame: the unsettled-edge count observed on an
    empty checkpoint must read as settled, and every doc is a singleton."""
    docs = spark.range(5).selectExpr("id")
    pairs = spark.createDataFrame([], "doc_id_1 long, doc_id_2 long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in star_components(docs, pairs).collect()
    }
    assert got == {i: i for i in range(5)}


def test_star_components_labels_singletons_and_two_cliques(spark):
    docs = spark.range(10).selectExpr("id")
    # clique {1,2,3}, pair {7,8}; 0,4,5,6,9 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 8)], "doc_id_1 long, doc_id_2 long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in star_components(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 7, 8: 7, 9: 9}


def test_rolling_zscore_flags_injected_spike_only(spark, tmp_path):
    """Flat revenue with one 10× day: exactly that day is flagged,
    and the spike must NOT poison later windows into false alarms
    within the test horizon (leave-current-out + 28-day memory)."""
    rows = []
    key = 0
    for d in range(40):
        price = 1000.0 if d == 34 else 100.0
        # two orders per day with slight jitter so variance is nonzero
        for j, delta in ((0, -1.0), (1, 1.0)):
            rows.append(
                (
                    key,
                    1,
                    "O",
                    price / 2 + delta,
                    datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d),
                    "1-URGENT",
                    "c",
                )
            )
            key += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string, o_comment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = [
        r["day"]
        for r in catalog()["q_rolling_zscore_anomaly_days"]
        .fn(spark, str(tmp_path))
        .collect()
    ]
    assert got == [datetime.date(2024, 2, 4)], got  # day index 34 only


def test_markov_transitions_exact_probabilities(spark, tmp_path):
    """Two users, hand-built sequences -> exact transition counts:
    view->click twice, view->purchase once, click->view once."""
    t = lambda m: datetime.datetime(2024, 1, 1, 10, m)
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(1), 1, "click", 1.0, "{}"),
        (3, t(2), 1, "view", 1.0, "{}"),
        (4, t(3), 1, "purchase", 1.0, "{}"),
        (5, t(0), 2, "view", 1.0, "{}"),
        (6, t(1), 2, "click", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        (r["event_type"], r["next_type"]): (r["n"], r["p_transition"])
        for r in catalog()["q_markov_event_transitions"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got[("view", "click")] == (2, pytest.approx(2 / 3))
    assert got[("view", "purchase")] == (1, pytest.approx(1 / 3))
    assert got[("click", "view")] == (1, pytest.approx(1.0))
    assert ("purchase", "view") not in got  # sequence ends don't wrap


def test_containment_outranks_jaccard_for_embedded_doc(spark, tmp_path):
    """Doc A embedded in a doc B twice A's size: containment ≈ 1 while
    Jaccard ≈ 0.5 — the asymmetric test must score the pair at ~1."""
    base = " ".join(f"w{i}" for i in range(60))
    extra = " ".join(f"x{i}" for i in range(60))
    spark.createDataFrame(
        [(1, base, "en", "s", len(base)),
         (2, base + " " + extra, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = (
        catalog()["q_containment_neardup_pairs"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    pair = {(r["doc_id_1"], r["doc_id_2"]): r["containment"] for r in rows}
    assert (1, 2) in pair, rows
    assert pair[(1, 2)] > 0.95


def test_pit_features_exclude_at_tick_events_and_handle_cold_start(spark):
    """The leakage rule, pinned: an event at EXACTLY the probe
    timestamp must not enter the probe's features (kind ordering, not
    a < filter, enforces it), and a customer with no history gets
    exact zeros with NULL recency."""
    import datetime as dt

    from cost_of_living_data_etl_spark.plans.feature_prep import pit_feature_assembly

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    events = spark.createDataFrame(
        [
            # uid 1: one purchase 1h before, one error AT the probe tick
            (10, t0 - dt.timedelta(hours=1), 1, "purchase", 0.0, "{}"),
            (11, t0, 1, "error", 0.0, "{}"),
            # uid 1: an event after the probe — must never count
            (12, t0 + dt.timedelta(hours=1), 1, "click", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    probes = spark.createDataFrame(
        [(1, t0, 100, 42.0), (2, t0, 200, 7.0)],  # uid 2: cold start
        "uid long, ts timestamp, o_orderkey long, o_totalprice double",
    )
    rows = {
        r.o_orderkey: r for r in pit_feature_assembly(events, probes).collect()
    }
    warm = rows[100]
    assert warm.n_events_before == 1  # at-tick error and later click excluded
    assert warm.n_purchases_before == 1
    assert warm.n_errors_before == 0
    assert warm.micros_since_last_event == 3600 * 1_000_000
    cold = rows[200]
    assert cold.n_events_before == 0
    assert cold.n_purchases_before == 0
    assert cold.n_errors_before == 0
    assert cold.micros_since_last_event is None
    assert cold.label_order_value == 7.0


def test_t_closeness_flags_skewed_cell_and_passes_representative(spark, tmp_path):
    """A QI cell mirroring the global sensitive mix has TVD 0; a cell
    holding ONLY the globally-rare status is flagged (skewness attack
    l-diversity misses: both cells here are size-10 and 'diverse'
    enough by count)."""
    rows = []
    # 1995 cell: 5 O / 15 F (big, near the global mix)
    for i in range(20):
        rows.append(
            (i, 1, "O" if i < 5 else "F", 10.0,
             datetime.datetime(1995, 3, 1), "1-URGENT", "c")
        )
    # 1996 cell: 4 rows, all F — far from the global mix
    for i in range(20, 24):
        rows.append(
            (i, 1, "F", 10.0, datetime.datetime(1996, 3, 1), "1-URGENT", "c")
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string, o_comment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["order_year"]: r
        for r in catalog()["q_t_closeness_audit"].fn(spark, str(tmp_path)).collect()
    }
    # global: O=5/24, F=19/24
    # 1995 (1/4, 3/4):  TVD = 0.5*(|1/4-5/24| + |3/4-19/24|) = 1/24
    # 1996 (0, 1):      TVD = 0.5*(5/24 + 5/24)              = 5/24
    assert abs(got[1995]["tvd"] - 1 / 24) < 1e-12
    assert abs(got[1996]["tvd"] - 5 / 24) < 1e-12
    assert got[1995]["t_close"] is True
    assert got[1996]["t_close"] is False


def test_source_modularity_separates_within_from_cross_source_dup(spark, tmp_path):
    """Two dup families confined to their sources => every near-dup
    edge intra (cross share 0, Q > 0). The same families split ACROSS
    sources => every edge crosses (cross share 1, Q < 0)."""
    long_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    long_b = "lambda mu nu xi omicron pi rho sigma tau upsilon " * 5

    def write(assignment):
        rows = [
            (i, long_a if i < 4 else long_b, "en", src, 100)
            for i, src in enumerate(assignment)
        ]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    fn = catalog()["q_dupgraph_source_modularity"].fn
    # family A = docs 0-3, family B = docs 4-7
    write(["s1"] * 4 + ["s2"] * 4)  # families aligned with sources
    row = fn(spark, str(tmp_path)).collect()[0]
    assert row.n_edges == 12 and row.n_intra_edges == 12
    assert row.cross_source_share == 0.0 and row.modularity > 0.4
    write(["s1", "s2"] * 4)  # each family half in each source
    row = fn(spark, str(tmp_path)).collect()[0]
    assert row.n_edges == 12
    # within each family of 4 (2 in s1, 2 in s2): C(2,2)*2 intra of 6
    assert row.n_intra_edges == 4
    assert abs(row.cross_source_share - 8 / 12) < 1e-12
    assert row.modularity < 0.0


def test_degenerate_denominators_yield_null_not_ansi_crash(spark, tmp_path):
    """ANSI Spark raises DIVIDE_BY_ZERO where DuckDB returns NULL, so
    every ratio with a plausibly-zero denominator carries an explicit
    nullif on BOTH engines (round-6 review). Three planted degenerate
    fixtures: a no-price-variation brand (zero OLS variance term), a
    lang of symbol-free docs (zero token sum), and a source made
    entirely of copies first seen elsewhere (zero unique tokens)."""
    import datetime

    from cost_of_living_data_etl_spark.plans.catalog import catalog

    ts = datetime.datetime(2024, 1, 1)
    # elasticity: brand B#1 has two lines at the IDENTICAL unit price
    spark.createDataFrame(
        [(1, "p1", "B#1", "t", 1, 10.0), (2, "p2", "B#2", "t", 1, 10.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 2.0, 20.0, 0.0, 0.0, "N", "O", ts),
            (1, 1, 1, 2, 4.0, 40.0, 0.0, 0.0, "N", "O", ts),  # same unit price
            (2, 2, 1, 1, 2.0, 20.0, 0.0, 0.0, "N", "O", ts),
            (2, 2, 1, 2, 3.0, 60.0, 0.0, 0.0, "N", "O", ts),  # varying price
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    rows = {
        r["p_brand"]: r
        for r in catalog()["q_price_elasticity_by_brand"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert rows["B#1"]["elasticity"] is None  # NULL, not a crash
    assert rows["B#2"]["elasticity"] is not None

    # fertility + inflation share the documents fixture
    docs = [
        (1, "hello world text", "en", "orig", 16),
        (2, "   ", "xx", "orig", 3),  # lang xx: zero BPE-ish tokens
        (11, "hello world text", "en", "copycat", 16),  # pure copy
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    fert = {
        r["lang"]: r["chars_per_token"]
        for r in catalog()["q_tokenizer_fertility_by_lang"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert fert["xx"] is None and fert["en"] is not None
    infl = {
        r["source"]: r["token_inflation"]
        for r in catalog()["q_dedup_inflation_factor"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    # every copycat text first appeared (lower doc_id) in orig, so its
    # unique-token denominator is zero -> NULL inflation, reported row
    assert infl["copycat"] is None and infl["orig"] is not None
