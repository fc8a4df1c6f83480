"""Property-based checks (SURVEY.md §5.4).

Each property generates adversarial inputs with hypothesis, ships them
through the REAL Spark expressions in one batch per example, and
compares against an independent Python reference. Spark jobs are slow,
so examples are capped and deadlines disabled.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cost_of_living_data_etl_spark.functions.columns import (

    decomma_to_double,
    with_county_suffix,
)
from conftest import TESTDATA

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# comma-grouped numerals like "1,234.56" / "-12,345" / "0.5"
_grouped_number = st.builds(
    lambda sign, intpart, frac: sign + f"{intpart:,}" + (f".{frac:02d}" if frac is not None else ""),
    st.sampled_from(["", "-"]),
    st.integers(min_value=0, max_value=10**12),
    st.one_of(st.none(), st.integers(min_value=0, max_value=99)),
)


@settings(**_SETTINGS)
@given(st.lists(_grouped_number, min_size=1, max_size=50))
def test_decomma_matches_python_float(spark, values):
    """decomma_to_double(x) == float(x.replace(',', '')) for any
    comma-grouped numeral (the reference's C2 lambda semantics)."""
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    got = [r["d"] for r in df.select(decomma_to_double("raw").alias("d")).collect()]
    want = [float(v.replace(",", "")) for v in values]
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=50))
def test_county_suffix_is_plain_concat(spark, values):
    """Suffix concat matches Python '+' for arbitrary unicode county
    names (C3) — no trimming, casefolding, or escaping surprises."""
    df = spark.createDataFrame([(v,) for v in values], "c string")
    got = [r["s"] for r in df.select(with_county_suffix("c").alias("s")).collect()]
    assert got == [v + " COUNTY" for v in values]


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=60),
    st.lists(st.integers(min_value=0, max_value=20), min_size=0, max_size=10),
)
def test_inner_join_count_bounded_union_additive(spark, fact_keys, dim_keys):
    """Inner-join output ≤ |fact| × max-dup-factor; with a UNIQUE dim,
    output ≤ |fact| exactly; union-all counts are additive."""
    fact = spark.createDataFrame([(k,) for k in fact_keys], "k int")
    dim = spark.createDataFrame(
        [(k,) for k in sorted(set(dim_keys))] or [(None,)], "k int"
    ).filter(F.col("k").isNotNull())
    joined = fact.join(dim, "k", "inner")
    assert joined.count() == sum(1 for k in fact_keys if k in set(dim_keys))
    assert fact.unionAll(fact).count() == 2 * len(fact_keys)


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=80))
def test_split_assignment_partitions_and_is_stable(spark, ids):
    """Every id lands in exactly one of train/val/test, assignment is a
    pure function of the id (same id duplicated → same split), and the
    three counts sum to the input size."""
    rows = [(i,) for i in ids] + [(i,) for i in ids]  # duplicates on purpose
    df = spark.createDataFrame(rows, "doc_id long")
    b = F.expr(
        "cast(conv(substring(md5(cast(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"
    )
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    out = df.select("doc_id", split.alias("split")).collect()
    by_id: dict[int, set[str]] = {}
    for r in out:
        by_id.setdefault(r["doc_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_id.values())  # stable per id
    assert len(out) == 2 * len(ids)


def test_minhash_bucket_cap_is_subset(spark):
    """The capped pair plan returns a subset of the uncapped pairs
    (it can only DROP candidates), and a cap of 1 kills all pairs
    (every matching bucket has ≥2 members by construction)."""
    from cost_of_living_data_etl_spark.operators.dedup import minhash_pair_plan

    sf = f"{TESTDATA}/sf0.001"
    full = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in minhash_pair_plan(spark, sf).collect()
    }
    capped = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in minhash_pair_plan(spark, sf, max_bucket=3).collect()
    }
    assert capped <= full
    assert minhash_pair_plan(spark, sf, max_bucket=1).count() == 0
    assert len(full) > 0


@settings(**_SETTINGS)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=30))
def test_identical_texts_get_identical_shingles(spark, texts):
    """shingle_docs is a pure function of text: duplicated documents
    produce element-wise identical shingle sets (the invariant MinHash
    dedup correctness rests on)."""
    from cost_of_living_data_etl_spark.operators.dedup import shingle_docs

    n = len(texts)
    rows = [(i, t) for i, t in enumerate(texts)] + [
        (i + n, t) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["doc_id"]: r["shingles"] for r in shingle_docs(docs).collect()}
    for i in range(n):
        assert sh[i] == sh[i + n]


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters="\x00"
            ),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_pii_redaction_is_idempotent(spark, texts):
    """redact(redact(x)) == redact(x): replacement tokens contain no
    characters any detector matches, so a second pass is a no-op —
    the property that makes re-running a scrub job safe."""
    from cost_of_living_data_etl_spark.operators.pii import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"]
    )
    out = df.select(
        "i",
        redact_pii(F.col("text")).alias("once"),
        redact_pii(redact_pii(F.col("text"))).alias("twice"),
    )
    assert all(r["once"] == r["twice"] for r in out.collect())


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=100,
    )
)
def test_histogram_bins_partition_all_rows(spark, values):
    """Clamped equi-width binning loses no rows: bin counts sum to the
    row count and every bin id is in [0, nbins)."""
    lo, hi, nbins = 0.0, 400_000.0, 20
    width = (hi - lo) / nbins
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    bin_id = F.least(
        F.greatest(F.floor((F.col("x") - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("long")
    rows = df.select(bin_id.alias("b")).groupBy("b").count().collect()
    assert sum(r["count"] for r in rows) == len(values)
    assert all(0 <= r["b"] < nbins for r in rows)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=400
        ),
        min_size=1,
        max_size=12,
    )
)
def test_chunking_covers_every_token_with_correct_overlap(spark, texts):
    """Sliding-window chunking invariants for arbitrary texts:
    (1) chunk count matches the shared integer formula,
    (2) token coverage: chunk token counts sum to n + (n_chunks-1)*overlap
        for docs longer than one window (full chunks overlap by W-S), and
    (3) every chunk except the last has exactly W tokens when n > W
        ... verified against a pure-Python re-implementation."""
    from cost_of_living_data_etl_spark.plans.corpus_prep import (
        CHUNK_STRIDE,
        CHUNK_W,
        q_chunk_documents_overlap,
    )

    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        out = q_chunk_documents_overlap(spark, d).collect()

    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_chunk_tokens"], r["chunk_hash"])
        )
    for i, t in enumerate(texts):
        toks = [x for x in t.strip().split() if x] if t.strip() else []
        n = len(toks)
        n_chunks = 1 if n <= CHUNK_W else (n - CHUNK_W + CHUNK_STRIDE - 1) // CHUNK_STRIDE + 1
        chunks = sorted(got.get(i, []))
        assert len(chunks) == n_chunks, (i, n, len(chunks), n_chunks)
        # python reference of every chunk
        import hashlib

        for idx, (cidx, ntok, chash) in enumerate(chunks):
            ref = toks[idx * CHUNK_STRIDE : idx * CHUNK_STRIDE + CHUNK_W]
            assert cidx == idx
            assert ntok == len(ref)
            assert chash == hashlib.md5(" ".join(ref).encode()).hexdigest()


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=80,
    ),
    st.integers(min_value=0, max_value=80),
)
def test_incremental_merge_equals_one_pass_for_any_split_point(spark, rows, cut):
    """Partial-aggregate maintenance must be split-point-invariant:
    merging (sum, count) partials of ANY base/delta partition of the
    input equals the one-pass aggregate."""
    df = spark.createDataFrame(
        [(g, float(v) / 100.0, i) for i, (g, v) in enumerate(rows)],
        "grp string, val double, seq long",
    )

    def partial(d):
        return d.groupBy("grp").agg(
            F.sum("val").alias("s"), F.count(F.lit(1)).alias("c")
        )

    merged = (
        partial(df.filter(F.col("seq") < cut))
        .unionByName(partial(df.filter(F.col("seq") >= cut)))
        .groupBy("grp")
        .agg(F.round(F.sum("s"), 6).alias("s"), F.sum("c").alias("c"))
    )
    direct = df.groupBy("grp").agg(
        F.round(F.sum("val"), 6).alias("s"), F.count(F.lit(1)).alias("c")
    )
    got = {r["grp"]: (r["s"], r["c"]) for r in merged.collect()}
    want = {r["grp"]: (r["s"], r["c"]) for r in direct.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert abs(got[k][0] - want[k][0]) < 1e-6


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["F", "O", "P"]),
            st.integers(min_value=0, max_value=3650),
            st.integers(min_value=0, max_value=10**7),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_ewma_fold_is_bounded_and_order_correct(spark, rows):
    """EWMA invariants for arbitrary daily series: the fold result is
    (a) within [min, max] of the inputs... after the initial-zero
    transient decays — so instead assert the EXACT value against a
    pure-Python fold in day order, which subsumes boundedness."""
    import datetime as dt

    data = [
        (s, dt.datetime(2020, 1, 1) + dt.timedelta(days=d), float(v) / 100.0)
        for s, d, v in rows
    ]
    df = spark.createDataFrame(data, "st string, day timestamp, rev double")
    got = {
        r["st"]: (r["n_days"], r["ewma"])
        for r in df.groupBy("st")
        .agg(
            F.count_distinct("day").alias("n_days"),
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(day, rev)))"
                ", s -> s.rev), CAST(0.0 AS DOUBLE),"
                " (acc, x) -> 0.3 * x + 0.7 * acc)"
            ).alias("ewma"),
        )
        .collect()
    }
    # python reference: same fold over day-ordered values; duplicate
    # (st, day) rows fold in (day, rev) struct-sort order like Spark
    ref = {}
    for s in {r[0] for r in data}:
        vals = sorted(((d, v) for g, d, v in data if g == s))
        acc = 0.0
        for _, v in vals:
            acc = 0.3 * v + 0.7 * acc
        ref[s] = (len({d for d, _ in vals}), acc)
    for s in ref:
        assert got[s][0] == ref[s][0]
        assert abs(got[s][1] - ref[s][1]) < 1e-12


@settings(**_SETTINGS)
@given(st.data())
def test_snapshot_diff_classification_is_exhaustive_and_disjoint(spark, data):
    """For ANY pair of keyed snapshots: every key appears in exactly
    one diff class, and class counts reconstruct both snapshot sizes
    (|v1| = deleted + changed + unchanged; |v2| = added + changed +
    unchanged)."""
    keys = data.draw(st.lists(st.integers(0, 40), min_size=1, max_size=40, unique=True))
    v1_keys = data.draw(st.sets(st.sampled_from(keys)))
    v2_keys = data.draw(st.sets(st.sampled_from(keys)))
    changed = data.draw(st.sets(st.sampled_from(sorted(v1_keys & v2_keys))) if v1_keys & v2_keys else st.just(set()))
    v1 = spark.createDataFrame([(k, 1.0) for k in sorted(v1_keys)] or [(None, None)], "k long, p double").filter("k IS NOT NULL")
    v2 = spark.createDataFrame(
        [(k, 2.0 if k in changed else 1.0) for k in sorted(v2_keys)] or [(None, None)],
        "k long, p double",
    ).filter("k IS NOT NULL")
    d = (
        v1.withColumnRenamed("k", "k1").withColumnRenamed("p", "p1")
        .join(
            v2.withColumnRenamed("k", "k2").withColumnRenamed("p", "p2"),
            F.col("k1") == F.col("k2"),
            "full_outer",
        )
        .select(
            F.when(F.col("k2").isNull(), "deleted")
            .when(F.col("k1").isNull(), "added")
            .when(~F.col("p1").eqNullSafe(F.col("p2")), "changed")
            .otherwise("unchanged")
            .alias("status")
        )
        .groupBy("status")
        .count()
    )
    got = {r["status"]: r["count"] for r in d.collect()}
    n = lambda s: got.get(s, 0)
    assert n("deleted") == len(v1_keys - v2_keys)
    assert n("added") == len(v2_keys - v1_keys)
    assert n("changed") == len(changed)
    assert n("deleted") + n("changed") + n("unchanged") == len(v1_keys)
    assert n("added") + n("changed") + n("unchanged") == len(v2_keys)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=60,
    )
)
def test_det_sum_equals_sorted_left_fold(spark, values):
    """functions.columns.det_sum must equal the plain Python left fold
    over the SORTED values — the exact contract the DuckDB oracle twin
    (list_reduce(list_sort(...))) relies on, bit-for-bit, for any
    input order."""
    import functools

    from cost_of_living_data_etl_spark.functions.columns import det_sum

    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = df.agg(det_sum("v").alias("s")).collect()[0]["s"]
    want = functools.reduce(lambda a, x: a + x, sorted(values), 0.0)
    assert got == want  # EXACT: same fold order, same IEEE ops


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),
            st.floats(min_value=0.0, max_value=1e5, allow_nan=False,
                      allow_infinity=False),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_loo_encoding_excludes_own_row(spark, rows):
    """Leave-one-out identity: for every row, loo_enc equals the mean
    target of the OTHER rows in its category (Python reference) — the
    property that makes the encoding leakage-safe. Categories of size
    1 fall back to the global mean."""
    import math

    from cost_of_living_data_etl_spark.plans.feature_prep import TE_SMOOTH

    df = spark.createDataFrame(rows, "cat string, y double")
    cat = df.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum("y").alias("s_c"),
    )
    glob = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"), F.sum("y").alias("s_all")
    )
    mu = F.col("s_all") / F.col("n_all")
    loo = F.when(
        F.col("n_c") > 1, (F.col("s_c") - F.col("y")) / (F.col("n_c") - 1)
    ).otherwise(mu)
    got = (
        df.join(F.broadcast(cat), "cat")
        .crossJoin(F.broadcast(glob))
        .select("cat", "y", loo.alias("loo"))
        .collect()
    )
    ys = [y for _, y in rows]
    by_cat: dict[str, list[float]] = {}
    for c, y in rows:
        by_cat.setdefault(c, []).append(y)
    global_mean = sum(ys) / len(ys)
    # collect() may reorder duplicate rows within a category; LOO of a
    # (cat, y) pair depends only on (cat, y), so compare per pair
    for r in got:
        others = [v for v in by_cat[r["cat"]]]
        others.remove(r["y"])  # drop ONE occurrence of own target
        want = sum(others) / len(others) if others else global_mean
        assert math.isclose(r["loo"], want, rel_tol=1e-9, abs_tol=1e-9)
    assert TE_SMOOTH > 0  # smoothing constant stays a positive prior


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # objects landing now
            st.integers(min_value=1, max_value=4),  # reads before next landing
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=3),  # max_objects_per_batch
)
@settings(deadline=None, max_examples=40)
def test_throttled_stream_reader_exactly_once_coverage(tmp_path_factory, plan, cap):
    """Property: for ANY interleaving of object landings and throttled
    reads, (a) every batch takes ≤ cap new objects, (b) each object's
    rows appear in exactly one batch, (c) after the backlog drains the
    union of batches equals the full lake, (d) the offset chain is
    monotone and replayable (readBetweenOffsets of each planned pair
    reproduces that batch's rows) — driver-level contract, no Spark."""
    from cost_of_living_data_etl_spark.plans.schemas import LAKE_SCHEMAS
    from cost_of_living_data_etl_spark.sources.lake import LAKE_PREFIX
    from cost_of_living_data_etl_spark.sources.lake_datasource import (
        LakeObjectsSimpleStreamReader,
    )

    root = tmp_path_factory.mktemp("throttle_prop")
    schema = LAKE_SCHEMAS["living_wage"]
    header = "wage_level,num_adults,num_children,num_working,county,usd_amount\n"
    d = root / LAKE_PREFIX / "2024-06-01"
    d.mkdir(parents=True)
    reader = LakeObjectsSimpleStreamReader(
        schema,
        {"root": str(root), "category": "living_wage",
         "max_objects_per_batch": str(cap)},
    )

    landed = 0
    seen_rows: list[tuple] = []
    batches: list[tuple[dict, dict, list[tuple]]] = []
    off = reader.initialOffset()
    for n_land, n_reads in plan:
        for _ in range(n_land):
            (d / f"living_wage_{landed:03d}.csv").write_text(
                header + f"LIVING WAGE,1,0,1,C{landed:03d},1.0\n"
            )
            landed += 1
        for _ in range(n_reads):
            rows, end = reader.read(off)
            rows = list(rows)
            new = set(end["files"]) - set(off["files"])
            assert len(new) <= cap  # (a) throttle bound
            assert set(off["files"]) <= set(end["files"])  # (d) monotone
            if not new:
                assert rows == [] and end == off
            else:
                batches.append((off, end, rows))
            seen_rows.extend(rows)
            off = end

    # drain whatever backlog remains
    while True:
        rows, end = reader.read(off)
        rows = list(rows)
        if end == off:
            break
        batches.append((off, end, rows))
        seen_rows.extend(rows)
        off = end

    # (b)+(c): every object exactly once, nothing missing
    got = sorted(r[4] for r in seen_rows)
    assert got == [f"C{i:03d}" for i in range(landed)]

    # (d) replay: every planned offset pair reproduces its batch
    for start, end, rows in batches:
        replay = list(reader.readBetweenOffsets(start, end))
        assert sorted(replay) == sorted(rows)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # fold
            st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
            st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        ),
        min_size=3,
        max_size=60,
    )
)
def test_gram_subtraction_equals_complement_gram(spark, rows):
    """The leave-fold-out identity behind q_ridge_kfold_cv: for every
    fold f, (total Gram − fold-f Gram) must equal the Gram computed
    directly over the complement rows, entrywise, to float tolerance —
    the algebra that lets k CV models reuse one aggregate pass."""
    import math

    grams: dict[int, list[float]] = {}
    for f_, x, y in rows:
        g = grams.setdefault(f_, [0.0] * 5)
        for i, v in enumerate((1.0, x, y, x * x, x * y)):
            g[i] += v
    total = [sum(g[i] for g in grams.values()) for i in range(5)]
    for f_, g in grams.items():
        direct = [0.0] * 5
        for f2, x, y in rows:
            if f2 == f_:
                continue
            for i, v in enumerate((1.0, x, y, x * x, x * y)):
                direct[i] += v
        for i in range(5):
            assert math.isclose(
                total[i] - g[i], direct[i], rel_tol=1e-9, abs_tol=1e-6
            ), (f_, i)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdef", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_countmin_never_undercounts(spark, word_counts):
    """CMS structural invariant: min-over-rows estimate ≥ true count
    for EVERY key, under the real md5 bucket expression — collisions
    only ever inflate."""
    from cost_of_living_data_etl_spark.plans.mllite import (
        CMS_DEPTH,
        _CMS_BUCKET_SPARK,
    )

    agg: dict[str, int] = {}
    for w, c in word_counts:
        agg[w] = agg.get(w, 0) + c
    df = spark.createDataFrame(list(agg.items()), "word string, cnt long")
    rows = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    cells = (
        df.select("word", "cnt", F.explode(rows).alias("i"))
        .select("i", F.expr(_CMS_BUCKET_SPARK).alias("bucket"), "cnt")
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cell"))
    )
    probes = df.select("word", "cnt", F.explode(rows).alias("i")).select(
        "word", "cnt", "i", F.expr(_CMS_BUCKET_SPARK).alias("bucket")
    )
    est = (
        probes.join(cells, ["i", "bucket"])
        .groupBy("word", "cnt")
        .agg(F.min("cell").alias("est"))
        .collect()
    )
    assert len(est) == len(agg)
    for r in est:
        assert r["est"] >= r["cnt"], r["word"]


@settings(**_SETTINGS)
@given(
    st.integers(min_value=1, max_value=6),   # k centroids
    st.integers(min_value=2, max_value=6),   # dims
    st.integers(min_value=1, max_value=12),  # n vectors
    st.randoms(use_true_random=False),
)
def test_assign_cells_matches_bruteforce_argmin(spark, k, dims, n, rnd):
    """The round-4 zero-shuffle argmin projection must pick, for every
    vector, the centroid minimizing |c|^2 - 2<x,c> (== Euclidean
    argmin), tie-broken toward the smaller cell id — verified against
    a plain Python brute force on adversarial shapes, including
    duplicate centroids (exact score ties) and k=1."""
    import pyspark.sql.functions as F

    from cost_of_living_data_etl_spark.operators.similarity import (
        _assign_cells,
    )

    vecs = [[rnd.choice([0.0, 1.0, -1.0, 0.5, 2.0]) for _ in range(dims)]
            for _ in range(n)]
    cents = [(c, [rnd.choice([0.0, 1.0, -1.0, 0.5]) for _ in range(dims)])
             for c in range(k)]
    e = spark.createDataFrame(
        [(i, v, 1.0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, norm double",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells(e, cents).select("vec_id", "cell").collect()
    }
    for i, x in enumerate(vecs):
        scores = [
            (sum(cv * cv for cv in c) - 2 * sum(a * b for a, b in zip(x, c)), cell)
            for cell, c in cents
        ]
        want = min(scores)[1]
        assert got[i] == want, (i, x, scores, got[i])


# ---------------------------------------------------------------------------
# round-6 late-addition properties
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
_doc_text = st.lists(_word, min_size=1, max_size=12).map(" ".join)


@settings(**_SETTINGS)
@given(
    st.lists(_doc_text, min_size=1, max_size=8),
    st.lists(_doc_text, min_size=1, max_size=8),
)
def test_jsd_matches_python_reference_and_is_bounded(spark, tmp_path_factory, a_docs, b_docs):
    """q_source_unigram_jsd equals an independent Python JSD (standard
    H(m) − ½(H(p)+H(q)) form, NOT the query's inner-join identity) and
    sits in [0, 1] bits; the pair row is absent iff vocabularies are
    disjoint."""
    import math
    from collections import Counter

    from cost_of_living_data_etl_spark.plans.catalog import catalog

    tmp = tmp_path_factory.mktemp("jsd")
    rows = [
        (i, t, "en", src, len(t))
        for i, (src, t) in enumerate(
            [("A", t) for t in a_docs] + [("B", t) for t in b_docs]
        )
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r["jsd_bits"]
        for r in catalog()["q_source_unigram_jsd"].fn(spark, str(tmp)).collect()
    }

    ca = Counter(w for t in a_docs for w in t.split())
    cb = Counter(w for t in b_docs for w in t.split())
    shared = set(ca) & set(cb)
    if not shared:
        assert got == {}, got
        return
    na, nb = sum(ca.values()), sum(cb.values())

    def h(dist):
        return -sum(p * math.log2(p) for p in dist if p > 0)

    vocab = set(ca) | set(cb)
    pa = {w: ca[w] / na for w in vocab}
    pb = {w: cb[w] / nb for w in vocab}
    m = {w: (pa[w] + pb[w]) / 2 for w in vocab}
    want = h(m.values()) - 0.5 * (h(pa.values()) + h(pb.values()))
    assert ("A", "B") in got
    assert abs(got[("A", "B")] - want) < 1e-9
    assert -1e-12 <= got[("A", "B")] <= 1.0 + 1e-12


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=20))
def test_padding_waste_conserves_tokens_and_caps_are_tight(
    spark, tmp_path_factory, token_counts
):
    """Conservation: Σ token_sum + Σ padding == Σ slot_sum; every cap
    is a power of two; every doc's tokens fit its cap and would NOT
    fit the next cap down (tightness)."""
    from cost_of_living_data_etl_spark.plans.catalog import catalog

    tmp = tmp_path_factory.mktemp("pad")
    rows = [
        (i, " ".join(["w"] * n) if n else "", "en", "S", 2 * n)
        for i, n in enumerate(token_counts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = catalog()["q_padding_waste_buckets"].fn(spark, str(tmp)).collect()
    assert sum(r["token_sum"] for r in out) + sum(r["padding_tokens"] for r in out) == sum(
        r["slot_sum"] for r in out
    )
    for r in out:
        cap = r["bucket_cap"]
        assert cap & (cap - 1) == 0 and cap >= 1  # power of two
    # tightness per doc, from the independent Python rule
    want_caps = sorted(
        1 if n <= 1 else 1 << (n - 1).bit_length() for n in token_counts
    )
    got_caps = sorted(
        c for r in out for c in [r["bucket_cap"]] * r["n_docs"]
    )
    assert got_caps == want_caps


@settings(**_SETTINGS)
@given(st.integers(min_value=0, max_value=2**24 - 1))
def test_dp_laplace_inverse_cdf_reference(spark, u_int):
    """The DP release's deterministic Laplace draw equals the textbook
    inverse CDF for ANY 24-bit hash value — including the near-0 /
    near-1 extremes where the decimal-literal bug used to diverge."""
    import math

    from cost_of_living_data_etl_spark.operators.pii import _DP_NOISE, DP_EPSILON

    row = (
        spark.range(1)
        .selectExpr(f"CAST({u_int} AS BIGINT) AS u_int")
        .selectExpr(f"{_DP_NOISE} AS noise")
        .collect()[0]
    )
    u = (u_int + 0.5) / 16777216.0
    want = (
        (-1.0 / DP_EPSILON)
        * math.copysign(1.0, u - 0.5)
        * math.log(1.0 - 2.0 * abs(u - 0.5))
    )
    # JVM Math.log and CPython/libm log may disagree by one ulp at the
    # distribution's extremes; the driver gate absorbs 1e-9 rel, so a
    # 1e-12 band still pins the mechanism while allowing libm ulps
    assert math.isclose(row["noise"], want, rel_tol=1e-12, abs_tol=1e-300)
