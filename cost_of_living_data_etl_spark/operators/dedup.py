"""Deduplication operators over the documents table.

Four dedup families, all deterministic (salted-md5 hashing, no RNG) so
the DuckDB oracles can mirror them bit-for-bit:

- exact:        md5(text) hash-groupBy; keeper = min(doc_id)
- MinHash LSH:  one chain in three phases, each implemented once and
                called by every MinHash consumer:
                1. signatures — ``signature_table`` (word-3-gram
                   shingles → hashed set + 16 salted minhashes per doc,
                   re-keyed scan, persisted);
                2. candidates — ``lsh_candidates`` (4 bands × 4 rows →
                   band-bucket self-join, optional bucket cap and
                   new-batch predicate);
                3. verify — ``join_hsets`` attaches both hashed sets to
                   each candidate; the consumer filters on its
                   predicate (``hset_jaccard`` in
                   ``neardup_pairs_from_sigs``, ``hset_containment`` in
                   q_containment_neardup_pairs).
- SimHash:      60-bit sign-aggregated word hashes → nibble-band
                blocking → Hamming-distance filter (its own banding:
                it verifies bit distance, not set overlap)
- n-gram Jaccard: exact shingle-set Jaccard (one-vs-all form)

Scale shape (the whole point of the LSH designs): the only shuffles
are groupBys/joins on SHORT HASH KEYS — never on document text. At
100 TB: shingling+minhashing is a map-only pass; the band join
shuffles (doc_id, band_hash) pairs (tiny); candidate verification
re-joins shingle sets only for the candidate set. Skewed buckets
(boilerplate docs) are the known hazard → AQE skew-join handles the
band join; a bucket-size cap (drop buckets > N, they're exact-dup
families anyway) is the production guard.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
    until_settled,
)
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared expression builders (Spark SQL expr strings, mirrored in oracles)
# ---------------------------------------------------------------------------

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 60  # 15 hex digits of md5 → no int64 overflow
SIMHASH_BAND_BITS = 15
HAMMING_MAX = 3  # ≤3 bit flips over 4 bands: one band always intact (pigeonhole)

# word 3-gram shingles, distinct; short docs fall back to whole-text
_WORDS = r"split(trim(text), '\\s+')"

# Shingle expression over a pre-bound word-array column `ws` and
# trimmed text `t`. Binding them in SEPARATE projections matters:
# inlining the split into the transform lambda would re-run the regex
# split once per shingle position — O(words²) splits per document
# (measured 4.6s of a 9s query at sf0.1). Catalyst's CollapseProject
# keeps multi-use non-cheap aliases in their own project, so `ws` is
# computed exactly once per row.
_SHINGLES_FROM_WS = """
array_distinct(
  CASE WHEN size(ws) < 3 THEN array(t)
       ELSE transform(sequence(1, size(ws) - 2),
                      i -> concat_ws(' ', slice(ws, i, 3)))
  END)
"""


def shingle_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) with the word split evaluated once per doc."""
    return (
        docs.select("doc_id", F.trim(F.col("text")).alias("t"))
        .select("doc_id", "t", F.split("t", r"\s+").alias("ws"))
        .select("doc_id", F.expr(_SHINGLES_FROM_WS).alias("shingles"))
    )

_WORDS_SQL = r"string_split_regex(trim(text), '\s+')"
SHINGLES_SQL = f"""
list_distinct(
  CASE WHEN length({_WORDS_SQL}) < 3 THEN [trim(text)]
       ELSE list_transform(range(1, greatest(length({_WORDS_SQL}) - 2, 0) + 1),
                           i -> array_to_string({_WORDS_SQL}[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
  END)
"""


# Universal-hash permutations over a 61-ish-bit shingle hash:
#   H(s)  = md5(s) first 15 hex digits → int, reduced mod P
#   mh_j  = min over shingles of (A_j·H + B_j) mod P
# One md5 per shingle total (vs one per shingle PER PERMUTATION for
# salted-md5 minhash) — at 100 TB that's the difference between 16
# hash passes and 1. P = 2^31−1 keeps A_j·H < 2^62: no int64 overflow.
MINHASH_P = 2_147_483_647
_PERM_A = [(j * 2_654_435_761 + 1_013_904_223) % MINHASH_P or 1 for j in range(NUM_PERM)]
_PERM_B = [(j * 1_597_334_677 + 2_246_822_519) % MINHASH_P for j in range(NUM_PERM)]

# shingle hash as a lambda body over variable `s` (array-native Spark
# form) and over the exploded `shingle` column (DuckDB oracle form).
# NOTE: the Spark side is array-native ONLY (transform/array_min in
# minhash_signatures) — there is deliberately no explode+groupBy Spark
# twin to drift from.
_SHINGLE_H_LAMBDA = (
    "cast(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % " + str(MINHASH_P)
)
_SHINGLE_H_SQL = (
    "CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % " + str(MINHASH_P)
)


def _minhash_agg_sql() -> str:
    return ",\n".join(
        f"CAST(min(({_PERM_A[j]} * h + {_PERM_B[j]}) % {MINHASH_P}) AS BIGINT) AS mh{j}"
        for j in range(NUM_PERM)
    )


def _band_hash_spark(b: int) -> str:
    cols = ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
    return f"md5(concat_ws('|', {cols}))"


def _band_hash_sql(b: int) -> str:
    cols = " || '|' || ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
    return f"md5({cols})"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact_groups",
    oracle="""
    SELECT
        md5(text)                     AS content_hash,
        CAST(min(doc_id) AS BIGINT)   AS keep_id,
        CAST(count(*) AS BIGINT)      AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup", "exact"),
)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy; min(doc_id) is the keeper.

    Deterministic replacement for dropDuplicates (which keeps an
    arbitrary row). The shuffle key is the 32-char hash, never the
    document — at 100 TB this moves ~50 bytes/doc.
    """
    # scan-parallelization measured and REJECTED here (round 9): the
    # md5 groupBy map work is too cheap — the re-key exchange doubled
    # the query (0.21 -> 0.45 s interleaved)
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs
# ---------------------------------------------------------------------------

# Verification compares HASHED shingle sets (61-bit md5-derived ints),
# not shingle strings: identical Jaccard modulo md5 collisions
# (~2^-30 per pair), and the verify joins then move long-arrays
# instead of re-shingled text. The oracle applies the same hashing, so
# both sides agree exactly.
_MINHASH_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
),
ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
),
hx AS (
    SELECT doc_id, {_SHINGLE_H_SQL} AS h FROM ex
),
mh AS (
    SELECT doc_id, list(DISTINCT h) AS hset, {_minhash_agg_sql()}
    FROM hx GROUP BY doc_id
),
bands AS (
    {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {_band_hash_sql(b)} AS band_hash FROM mh"
        for b in range(BANDS)
    )}
),
candidates AS (
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
)
SELECT
    CAST(c.doc_id_1 AS BIGINT) AS doc_id_1,
    CAST(c.doc_id_2 AS BIGINT) AS doc_id_2,
    length(list_intersect(s1.hset, s2.hset)) * 1.0
      / length(list_distinct(list_concat(s1.hset, s2.hset))) AS jaccard
FROM candidates c
JOIN mh s1 ON s1.doc_id = c.doc_id_1
JOIN mh s2 ON s2.doc_id = c.doc_id_2
WHERE length(list_intersect(s1.hset, s2.hset)) * 1.0
      / length(list_distinct(list_concat(s1.hset, s2.hset))) >= {JACCARD_THRESHOLD}
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, hset, mh0..mhN): hashed shingle set + minhash signature
    per document — one map-only projection, no shuffle.

    One md5 per shingle inside transform(); minhash per permutation as
    array_min over the hashed set (min is duplicate-insensitive, so
    hset and the raw hash array give identical signatures). The
    array-native form avoids exploding ~300 shingle rows per doc into
    a hash aggregate: no shuffle before the band join (4.3 s → 1.1 s
    at sf0.1). This is the table to persist (warehouse parquet at
    100 TB): ~100 bytes/doc vs KBs of text, and every near-dup consumer
    reads it instead of re-shingling the corpus.
    """
    sh = shingle_docs(docs)
    return sh.selectExpr(
        "doc_id",
        f"array_distinct(transform(shingles, s -> {_SHINGLE_H_LAMBDA})) AS hset",
    ).selectExpr(
        "doc_id",
        "hset",
        *[
            f"array_min(transform(hset, h -> ({_PERM_A[j]} * h + {_PERM_B[j]}) "
            f"% {MINHASH_P})) AS mh{j}"
            for j in range(NUM_PERM)
        ],
    )


def signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's persisted signature table (minhash_signatures over
    ``documents``): the one loading policy for every near-dup consumer.

    The scan is re-keyed by doc_id (``parallel=True``) because the
    shingle+md5+minhash map pass is the chain's most expensive kernel
    and would otherwise run as ONE task on a single-split file (−20% on
    q_dedup_minhash_lsh, 2.80 → 2.21 s at sf0.1); every value derived
    from it is order-insensitive (md5/xxhash ints, array_min,
    exact-count set ratios), so the re-key cannot change a row. The table is persisted because the band join and both verify
    joins read it: unpersisted, each branch re-shingles the corpus.

    Float-contract caveat: ONE transitive consumer emits a plain double
    sum — q_pagerank_neardup_graph's per-node Σ pr/outd, whose addend
    order depends on shuffle arrival. Parity holds empirically (each
    node's contributions arrive within one sort-free hash aggregate)
    and pagerank is CANARY_HEAVY in bench.py, so the sum is documented
    rather than routed through det_sum; if its oracle gate ever
    flickers, that fold is the fix — not removing this re-key.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents", parallel=True)
    return minhash_signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)


def lsh_candidates(
    mh: DataFrame,
    max_bucket: int | None = None,
    touching_only: str | None = None,
) -> DataFrame:
    """Candidate generation: distinct (doc_id_1 < doc_id_2) pairs that
    share at least one band bucket of the signature table ``mh``.

    ``max_bucket`` is the skew guard: band buckets larger than the cap
    are dropped BEFORE the self-join (a bucket of size b emits b²
    candidate pairs — boilerplate/empty documents at 100 TB produce
    million-row buckets that would dominate the join). Capped buckets
    are near-exact-dup families, which exact dedup already catches
    upstream. The default None is lossless, which the oracles replay
    exactly. For callers that want a cap, 1000 is the recommended
    value: it bounds any bucket to ≤ ~500k candidate pairs (on the
    50k-doc hostile corpus the 5k-doc boilerplate family emits 12.5M
    pairs lossless and 10 organic pairs capped; SCALE.md "Skew
    guards").

    ``touching_only``: name of a boolean column in ``mh``; when given,
    only pairs where at least one side has it true are mined — the
    incremental-dedup path (new batch vs corpus) where corpus-internal
    pairs are already known and must not be recomputed.

    With 16 perms in 4×4 bands, a 0.9-Jaccard pair is caught with
    p≈0.986. The join shuffles (doc_id, band_hash) rows only.
    """
    # one row → BANDS rows via posexplode: minhashes computed once per
    # doc (a union of per-band branches would recompute them per band)
    band_cols = ["doc_id"] + ([touching_only] if touching_only else [])
    bands = mh.select(
        *band_cols,
        F.posexplode(
            F.array(*[F.expr(_band_hash_spark(b)) for b in range(BANDS)])
        ).alias("band_idx", "band_hash"),
    )

    if max_bucket is not None:
        # drop pathological buckets before the b² self-join. A window
        # count partitioned on EXACTLY the self-join's equi keys keeps
        # one derivation of the banded frame, and the window's required
        # partitioning matches the join's. A rollup + left-semi form
        # would consume `bands` on two branches and re-run the
        # shingle→minhash subtree: +26-40% on the pair consumers on a
        # corpus where the cap drops nothing (SCALE.md
        # production-profile decade table).
        from pyspark.sql import Window

        wspec = Window.partitionBy("band_idx", "band_hash")
        bands = (
            bands.withColumn("__bsz", F.count(F.lit(1)).over(wspec))
            .filter(F.col("__bsz") <= max_bucket)
            .drop("__bsz")
        )

    a, bb = bands.alias("a"), bands.alias("b")
    join_cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if touching_only:
        join_cond = join_cond & (
            F.col(f"a.{touching_only}") | F.col(f"b.{touching_only}")
        )
    return (
        a.join(bb, join_cond)
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .distinct()
    )


def join_hsets(cands: DataFrame, mh: DataFrame) -> DataFrame:
    """Verification input: ``cands`` (doc_id_1, doc_id_2) with each
    side's hashed shingle set attached as ``hs1`` / ``hs2``. Only
    candidate pairs re-read the signature table, never the text."""
    s1 = mh.select(F.col("doc_id").alias("doc_id_1"), F.col("hset").alias("hs1"))
    s2 = mh.select(F.col("doc_id").alias("doc_id_2"), F.col("hset").alias("hs2"))
    return cands.join(s1, "doc_id_1").join(s2, "doc_id_2")


def hset_jaccard():
    """|A∩B| / |A∪B| of the hashed shingle sets on a join_hsets frame."""
    return F.size(F.array_intersect("hs1", "hs2")) / F.size(
        F.array_union("hs1", "hs2")
    )


def hset_containment():
    """|A∩B| / min(|A|,|B|) of the hashed shingle sets on a join_hsets
    frame."""
    return F.size(F.array_intersect("hs1", "hs2")) / F.least(
        F.size("hs1"), F.size("hs2")
    )


def neardup_pairs_from_sigs(
    mh: DataFrame,
    max_bucket: int | None = None,
    touching_only: str | None = None,
) -> DataFrame:
    """(doc_id_1, doc_id_2, jaccard) near-dup pairs over a signature
    table: lsh_candidates, then join_hsets, then the exact Jaccard
    filter at JACCARD_THRESHOLD. Arguments as in lsh_candidates."""
    return (
        join_hsets(lsh_candidates(mh, max_bucket, touching_only), mh)
        .withColumn("jaccard", hset_jaccard())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )


def minhash_pair_plan(
    spark: SparkSession, sf_dir: str, max_bucket: int | None = None
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs of the fixture corpus,
    Jaccard-verified: neardup_pairs_from_sigs over signature_table."""
    return neardup_pairs_from_sigs(signature_table(spark, sf_dir), max_bucket)


@register("q_dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("dedup", "minhash", "lsh"))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry for the MinHash-LSH pair plan (see minhash_pair_plan)."""
    return minhash_pair_plan(spark, sf_dir)


# ---------------------------------------------------------------------------
# connected-components dedup clustering
# ---------------------------------------------------------------------------

# Alternating large/small-star settles star-like dup families in a few
# rounds; star_components raises when this budget does not settle the
# graph, so a pathological graph fails loudly instead of mislabeling.
CC_STAR_MAX_ROUNDS = 12


def star_components(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components over (doc_id_1, doc_id_2) pairs by
    alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). ``docs`` is the
    full node frame (column ``id``), so documents in no pair label
    themselves. Returns (doc_id, cluster_id = min doc_id of its
    component).

    Star contraction converges in O(log² n) rounds whatever the graph's
    diameter (label propagation needs O(diameter): long chains such as
    crawl redirect families or quote chains defeat it). Raises
    RuntimeError if CC_STAR_MAX_ROUNDS rounds do not settle the graph.

    With m(u) = min(N(u) ∪ {u}), one round is
      large-star: link every neighbor v > u to m(u);
      small-star: on the result, link every neighbor v ≤ u, and u
                  itself, to the new m(u).
    Edges stay (node, node) pairs, so a round shuffles ids only, never
    text. The graph is settled when every node has only larger
    neighbors or exactly one neighbor: then each component is a star
    around its min and m(u) is the label. Rounds run through
    until_settled: each round is one linear plan ending in an eager
    localCheckpoint, and that job also computes the next m(u) and
    observes the count of unsettled edges.
    """
    from pyspark.sql import Window

    by_u = Window.partitionBy("u")
    u, v, m = F.col("u"), F.col("v"), F.col("m")

    def undirected(links: DataFrame) -> DataFrame:
        # (a, b) links -> (u, v) edges in both directions, without a
        # union: a union's branches would each replan the round so far
        return links.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")

    def with_min(edges: DataFrame) -> DataFrame:
        return edges.withColumn("m", F.least(F.min("v").over(by_u), u))

    def with_min_degree(edges: DataFrame) -> DataFrame:
        return with_min(edges).withColumn("degree", F.count(F.lit(1)).over(by_u))

    def large_small_star(edges: DataFrame) -> DataFrame:
        large = edges.filter(v > u).select(v.alias("a"), m.alias("b")).distinct()
        # the small-star arm for v > u emits (m, m), dropped by a != b
        small = (
            with_min(undirected(large))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.when(v <= u, v).otherwise(m).alias("a"), m.alias("b")
                        ),
                        F.struct(u.alias("a"), m.alias("b")),
                    )
                ).alias("l")
            )
            .select("l.a", "l.b")
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        return with_min_degree(undirected(small))

    edges = until_settled(
        with_min_degree(undirected(pairs.selectExpr("doc_id_1 AS a", "doc_id_2 AS b"))),
        large_small_star,
        F.count(F.when((m != u) & (F.col("degree") != 1), True)),
        CC_STAR_MAX_ROUNDS,
        f"star_components did not converge in {CC_STAR_MAX_ROUNDS} "
        "large/small-star rounds; raise CC_STAR_MAX_ROUNDS for this "
        "graph (rounds needed grow ~log² of the largest component)",
    )
    labels = edges.groupBy(F.col("u").alias("doc_id")).agg(
        F.min("m").alias("cluster_id")
    )
    return docs.join(labels, docs["id"] == labels["doc_id"], "left").select(
        F.col("id").cast("long").alias("doc_id"),
        F.coalesce("cluster_id", "id").cast("long").alias("cluster_id"),
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
nodes AS (SELECT doc_id FROM documents),
pairs AS (
    SELECT doc_id_1, doc_id_2 FROM ({_MINHASH_ORACLE}) p
),
edges AS (
    SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
    UNION ALL
    SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs
),
reach(id, lbl) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


@register("q_dedup_clusters", oracle=_CLUSTERS_ORACLE, tags=("dedup", "clustering", "iterative"))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph → cluster_id
    per document (min doc_id in the component; singletons are their own
    cluster). THE production dedup output: keep rows where
    doc_id == cluster_id, drop the rest. The components come from
    star_components; the DuckDB oracle computes them with a recursive
    CTE (label transitive closure), so the labels are hash-verified.
    """
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    return star_components(docs, pairs)


# ---------------------------------------------------------------------------
# SimHash near-dup pairs
# ---------------------------------------------------------------------------

# SimHash via explode + conditional-sum aggregate: one md5 per distinct
# word, bit counters as codegen'd sums — no per-element lambdas.
_NIBBLE_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
_BAND_MOD = 1 << SIMHASH_BAND_BITS

_BIT_SUMS_SQL = ", ".join(
    f"sum(((h16 >> {k}) & 1)) AS c{k}" for k in range(SIMHASH_BITS)
)
_SIMHASH_FROM_COUNTS_SQL = (
    "CAST("
    + " + ".join(
        f"CASE WHEN 2 * c{k} >= n THEN {1 << k} ELSE 0 END"
        for k in range(SIMHASH_BITS)
    )
    + " AS BIGINT)"
)

_SIMHASH_ORACLE = f"""
WITH w AS (
    SELECT doc_id, unnest(list_distinct({_WORDS_SQL})) AS w FROM documents
),
h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h16 FROM w
),
agg AS (
    SELECT doc_id, count(*) AS n, {_BIT_SUMS_SQL} FROM h GROUP BY doc_id
),
s AS (
    SELECT doc_id, {_SIMHASH_FROM_COUNTS_SQL} AS simhash FROM agg
),
bands AS (
    {" UNION ALL ".join(
        f"SELECT doc_id, simhash, {n} AS band_idx, "
        f"(simhash >> {SIMHASH_BAND_BITS * n}) & {_BAND_MOD - 1} AS nibble FROM s"
        for n in range(_NIBBLE_BANDS)
    )}
)
SELECT DISTINCT
    CAST(a.doc_id AS BIGINT)                         AS doc_id_1,
    CAST(b.doc_id AS BIGINT)                         AS doc_id_2,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.nibble = b.nibble AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


@register("q_dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup", "simhash"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit sign-aggregate fingerprint
    (SIMHASH_BITS — 15 md5 hex digits, int64-safe), nibble-band
    blocking (exact for Hamming ≤ 3 by pigeonhole), Hamming filter.
    The fingerprint is 8 bytes/doc — the cheapest possible shuffle
    for pairwise dedup at scale.
    """
    # Signature is computed ARRAY-NATIVE in one map-only pass: hash the
    # distinct-word array in place, fold it into a 60-long bit-count
    # vector, majority-vote the counts into the fingerprint. The
    # explode + groupBy(60 × sum) formulation this replaces shuffled
    # |doc|×|words| rows through a 60-counter hash aggregate — measured
    # 2.9s vs 0.6s at 50k docs, and at 100 TB the difference is a full
    # extra shuffle of the tokenized corpus vs none.
    #
    # The intermediates (hs, n, counts) are LET-BOUND as lambda
    # variables via single-element transform(array(e), x -> body)[0]
    # scoping, not projection aliases: CollapseProject inlines aliases
    # into every reference site, and `n` is referenced once per bit —
    # inlined, the whole md5 pipeline re-ran 60× per row (measured 22s
    # vs 0.5s for the identical computation). Lambda variables are
    # evaluated exactly once by construction.
    from pyspark import StorageLevel

    # parallel=True: the per-word md5 + 60-bit fold map pass is the
    # dominant serial kernel; every output is an md5-derived integer
    # (order-free), so the re-key is parity-safe
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    _hs = (
        f"transform(array_distinct({_WORDS}), "
        "w -> cast(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT))"
    )
    _counts_fold = (
        f"aggregate(hs, array_repeat(0L, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), "
        "(a, k) -> a + (shiftright(h, k) % 2)))"
    )
    _majority = (
        f"aggregate(zip_with(s.c, sequence(0, {SIMHASH_BITS - 1}), "
        "(c, k) -> IF(2 * c >= s.n, shiftleft(1L, k), 0L)), 0L, (a, v) -> a + v)"
    )
    simhash_expr = (
        f"element_at(transform(array({_hs}), hs -> "
        f"element_at(transform(array(named_struct('n', size(hs), 'c', {_counts_fold})), "
        f"s -> {_majority}), 1)"
        "), 1)"
    )
    # 16 bytes/doc: persist so the band self-join reads signatures, not
    # two full recomputations of the hashing pipeline (same pattern as
    # the minhash `mh` table; at 100 TB this is a parquet checkpoint).
    s = docs.selectExpr("doc_id", f"{simhash_expr} AS simhash").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    bands = s.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"shiftright(simhash, {SIMHASH_BAND_BITS * n}) % {_BAND_MOD}"
                    )
                    for n in range(_NIBBLE_BANDS)
                ]
            )
        ).alias("band_idx", "nibble"),
    )

    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.expr("a.simhash ^ b.simhash")).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.nibble") == F.col("b.nibble"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard, one-vs-all
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
),
q AS (SELECT shingles AS qsh FROM sh WHERE doc_id = 0)
SELECT
    CAST(s.doc_id AS BIGINT) AS doc_id,
    length(list_intersect(s.shingles, q.qsh)) * 1.0
      / length(list_distinct(list_concat(s.shingles, q.qsh))) AS jaccard
FROM sh s, q
WHERE s.doc_id <> 0
ORDER BY jaccard DESC, doc_id
LIMIT 10
"""


@register("q_ngram_jaccard_topk", oracle=_NGRAM_ORACLE, tags=("dedup", "ngram", "topk"))
def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by exact 3-gram Jaccard against doc_id 0.

    One-vs-all exact Jaccard via a broadcast of the query shingle set;
    top-k by TakeOrderedAndProject (no global sort).
    """
    # parallel=True: shingling dominates; Jaccard is a ratio of exact
    # set sizes and the top-k order is total (round 9)
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    sh = shingle_docs(docs)
    q = sh.filter(F.col("doc_id") == 0).select(F.col("shingles").alias("qsh"))
    jaccard = F.size(F.array_intersect("shingles", "qsh")) / F.size(
        F.array_union("shingles", "qsh")
    )
    return (
        sh.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("doc_id", jaccard.alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), F.col("doc_id"))
        .limit(10)
    )


NEW_BATCH_MOD = 10  # doc_id % 10 == 0 → today's incoming batch


_INCREMENTAL_ORACLE = f"""
SELECT doc_id_1, doc_id_2, jaccard FROM ({_MINHASH_ORACLE}) p
WHERE doc_id_1 % {NEW_BATCH_MOD} = 0 OR doc_id_2 % {NEW_BATCH_MOD} = 0
"""


@register(
    "q_dedup_incremental_batch",
    oracle=_INCREMENTAL_ORACLE,
    tags=("dedup", "minhash", "incremental"),
)
def q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: mine ONLY pairs touching today's batch
    (``doc_id % 10 == 0`` stands in for the new partition) — batch-vs-
    corpus and batch-internal pairs; corpus-internal pairs are already
    known from previous runs and are never recomputed.

    This is the operation a daily 100 TB corpus build actually runs:
    signatures for the historical corpus come from the PERSISTED
    signature table (minhash_signatures written to warehouse parquet —
    ~100 bytes/doc), so the per-day cost is (a) a map-only signature
    pass over the NEW data only, (b) a band join whose probe side is
    the day's batch, (c) Jaccard verification against stored hash
    sets. The corpus text is never re-read. Here both sides derive
    from the fixture table so the DuckDB oracle can verify the exact
    pair set; the plan shape is identical when the corpus half comes
    from parquet.
    """
    sigs = signature_table(spark, sf_dir).withColumn(
        "is_new", F.col("doc_id") % NEW_BATCH_MOD == 0
    )
    return neardup_pairs_from_sigs(sigs, touching_only="is_new")


_DUP_RATE_ORACLE = """
WITH ranked AS (
    SELECT source, doc_id,
           row_number() OVER (
               PARTITION BY md5(text) ORDER BY doc_id
           ) AS rn,
           count(*) OVER (PARTITION BY md5(text)) AS family_size
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT)                         AS n_docs,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT)   AS n_dupes,
       count(*) FILTER (WHERE rn > 1) / CAST(count(*) AS DOUBLE) AS dup_rate,
       CAST(max(family_size) AS BIGINT)                 AS max_family
FROM ranked
GROUP BY source
"""


@register("q_dedup_rate_by_source", oracle=_DUP_RATE_ORACLE, tags=("dedup", "curation"))
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication audit: how many docs each source
    contributes, how many are exact-duplicate copies (non-keepers),
    the dup rate, and the largest duplicate family.

    The source-triage table of a curation pipeline — a crawl slice
    with dup_rate 0.6 gets its acquisition fixed, not its duplicates
    lovingly deduped forever. One shuffle on the 32-char content hash
    (the same key exact dedup already uses), then a short-key rollup
    on source.
    """
    from pyspark.sql import Window

    h = F.md5(F.col("text").cast("binary"))
    byhash = Window.partitionBy(h)
    ranked = load_table(spark, sf_dir, "documents").select(
        "source",
        F.row_number().over(byhash.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(byhash).alias("family_size"),
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("rn") > 1).alias("n_dupes"),
        (F.count_if(F.col("rn") > 1) / F.count(F.lit(1)).cast("double")).alias(
            "dup_rate"
        ),
        F.max("family_size").cast("long").alias("max_family"),
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup pair graph
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITERS = 10


def _pagerank_oracle() -> str:
    """DuckDB replay: the minhash pair oracle feeds an unrolled
    PR_ITERS-step power iteration — same fixed-iteration determinism
    pattern as the Lloyd/IVF oracles. ``pairs`` MUST be MATERIALIZED:
    DuckDB inlines plain CTEs, so without it the full minhash chain
    re-evaluates once per unrolled iteration (measured 51 s vs 0.9 s
    at sf0.01)."""
    d = PR_DAMPING
    sql = [
        f"""
    WITH pairs AS MATERIALIZED (
        SELECT doc_id_1, doc_id_2 FROM ( {_MINHASH_ORACLE} )
    ),
    edges AS (
        SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
        UNION ALL
        SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outd FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / n AS pr FROM nodes, nn)"""
    ]
    for t in range(1, PR_ITERS + 1):
        sql.append(
            f""",
    r{t} AS (
        SELECT v.node,
               (1 - {d}) / nn.n + {d} * coalesce(s.contrib, 0.0) AS pr
        FROM nodes v
        CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst, sum(r.pr / dg.outd) AS contrib
            FROM edges e
            JOIN r{t - 1} r ON r.node = e.src
            JOIN deg dg ON dg.src = e.src
            GROUP BY e.dst
        ) s ON s.dst = v.node
    )"""
        )
    sql.append(
        f"""
    SELECT CAST(node AS BIGINT) AS doc_id, pr AS pagerank FROM r{PR_ITERS}"""
    )
    return "".join(sql)


@register(
    "q_pagerank_neardup_graph",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative", "dedup"),
)
def q_pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected near-dup pair graph: which
    documents sit at the CENTER of duplication neighborhoods (template
    hubs, boilerplate ancestors) vs on the periphery — the ranking a
    curation team uses to pick canonical representatives and to spot
    template families worth a regex instead of pairwise dedup.

    Second iterative-graph operator next to connected components, same
    discipline: fixed PR_ITERS power-iteration rounds (deterministic →
    DuckDB-replayable, unrolled in the oracle), ranks carried as slim
    (node, pr) rows, lineage truncated with localCheckpoint every few
    rounds. Scale shape per round: one join of edges→ranks on src, one
    aggregate on dst — all short-key shuffles proportional to |edges|,
    never to corpus size; degrees and the node list are computed once.
    """
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    edges = (
        pairs.select(
            F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
        )
        .unionAll(
            pairs.select(
                F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
            )
        )
        .persist()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    n = nodes.count()  # 1-scalar driver value, like the CC convergence check
    if n == 0:
        return nodes.select(
            F.col("node").cast("long").alias("doc_id"),
            F.lit(0.0).alias("pagerank"),
        )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    # fold 1/degree into the edge ONCE: each power-iteration round is
    # then a single join + aggregate instead of two joins — the deg
    # table never re-enters the loop
    wedges = (
        edges.join(deg, "src")
        .select("src", "dst", "outd")  # pr/outd stays a DIVISION so the
        .persist()  # arithmetic is bit-identical to the unrolled oracle
    )
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    # The edge table holds BOTH orientations of every pair, so the dst
    # set IS the node set: every node receives at least one
    # contribution, the oracle's `nodes LEFT JOIN contrib` never fires
    # its NULL arm, and the per-round nodes-join + coalesce would be a
    # no-op — one join per round dropped (measured 5.8 -> 4.8 s warm
    # at sf0.1). Directed-graph PageRank would need the left join back.
    for t in range(PR_ITERS):
        ranks = (
            wedges.join(ranks, wedges["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit((1 - PR_DAMPING) / n)
                    + PR_DAMPING * F.sum(F.col("pr") / F.col("outd"))
                ).alias("pr")
            )
        )
        if (t + 1) % 3 == 0:
            ranks = ranks.transform(eager_checkpoint)
    return ranks.select(
        F.col("node").cast("long").alias("doc_id"), F.col("pr").alias("pagerank")
    )


# ---------------------------------------------------------------------------
# cross-document substring duplication: chunk-hash approximation of
# suffix-array exact-substring dedup
# ---------------------------------------------------------------------------

CHUNK_W = 64  # window length (chars)
CHUNK_S = 16  # stride (chars): detects duplicated spans at ≥ W+S chars


@register(
    "q_crossdoc_substring_dups",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, text, length(text) AS len
        FROM documents WHERE length(text) >= {CHUNK_W}
    ),
    chunks AS (
        SELECT DISTINCT doc_id, source,
               md5(substring(text, 1 + {CHUNK_S} * i, {CHUNK_W})) AS h
        FROM docs, LATERAL (
            SELECT unnest(generate_series(0, (len - {CHUNK_W}) // {CHUNK_S})) AS i
        )
    ),
    shared AS (
        SELECT h FROM chunks GROUP BY h HAVING count(*) >= 2
    ),
    per_doc AS (
        SELECT c.doc_id, max(c.source) AS source,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
        FROM chunks c LEFT JOIN shared s ON c.h = s.h
        GROUP BY c.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                       AS n_docs,
           avg(n_dup * 1.0 / n_chunks)                    AS avg_dup_ratio,
           CAST(sum(CASE WHEN n_dup * 2 >= n_chunks THEN 1 ELSE 0 END)
                AS BIGINT)                                AS n_heavy_dup
    FROM per_doc
    GROUP BY source
    """,
    tags=("dedup", "substring", "chunks"),
)
def q_crossdoc_substring_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level duplication rate per source: the fraction of
    each doc's 64-char windows (stride 16) whose exact content appears
    in at least one other window anywhere in the corpus — the
    chunk-hash approximation of suffix-array exact-substring dedup
    (which removes verbatim boilerplate MinHash treats as unique when
    it is embedded in otherwise-distinct pages). Stride-W trade-off: a
    duplicated span is detected once it spans a full aligned window,
    i.e. at length ≥ W + S = 80 chars; shrinking S tightens that bound
    linearly while growing the explode by 1/S.

    Scale shape: windows are hashed to 16-byte md5s in the scan stage
    and the text column is dropped before any Exchange — the shuffle
    carries (doc_id, chunk_hash) pairs keyed by hash (~`40/S` bytes per
    text byte; tune S for the corpus). The shared-chunk set is a
    hash-keyed partial aggregate, and the per-doc rollup re-shuffles
    only hashes. Nothing is ever all-pairs.
    """
    docs = (
        # scan-parallelization REJECTED here (round 9): the per-source
        # mean of per-doc dup rates is a plain double sum — its value
        # depends on the order rows reach the aggregate (measured
        # last-ulp flips under a re-keyed scan), so the serial scan
        # order is part of this query's float contract
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= CHUNK_W)
        .select("doc_id", "source", "text", F.length("text").alias("len"))
    )
    chunks = (
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.lit(0), F.expr(f"(len - {CHUNK_W}) div {CHUNK_S}")
                )
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.expr(f"substring(text, 1 + {CHUNK_S} * i, {CHUNK_W})")
            ).alias("h"),
        )
        .distinct()
    )
    shared = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= 2
    )
    per_doc = (
        chunks.join(shared.select("h", F.lit(1).alias("dup")), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.max("source").alias("source"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("dup").isNotNull(), 1).otherwise(0)).alias("n_dup"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("n_dup") * F.lit(1.0) / F.col("n_chunks")).alias(
            "avg_dup_ratio"
        ),
        F.sum(
            F.when(F.col("n_dup") * 2 >= F.col("n_chunks"), 1).otherwise(0)
        ).alias("n_heavy_dup"),
    )


# ---------------------------------------------------------------------------
# triangle counting over the near-dup pair graph
# ---------------------------------------------------------------------------

#: DuckDB twin of ``triangle_memberships`` over the near-dup pair graph:
#: ``members`` holds one doc_id row per (triangle, member)
_TRIANGLE_MEMBERS_CTE = f"""pairs AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ( {_MINHASH_ORACLE} )
),
tri AS (
    SELECT ab.doc_id_1 AS a, ab.doc_id_2 AS b, bc.doc_id_2 AS c
    FROM pairs ab
    JOIN pairs bc ON bc.doc_id_1 = ab.doc_id_2
    JOIN pairs ac ON ac.doc_id_1 = ab.doc_id_1 AND ac.doc_id_2 = bc.doc_id_2
),
members AS (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)"""

_TRIANGLE_ORACLE = f"""
WITH {_TRIANGLE_MEMBERS_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM members GROUP BY doc_id
"""


def triangle_memberships(pairs: DataFrame) -> DataFrame:
    """One ``doc_id`` row per (triangle, member) of an oriented
    (doc_id_1 < doc_id_2) edge list. Each triangle a<b<c is found once,
    as the two-path a-b-c closed by the edge a-c: two self-joins of the
    slim (id, id) edge list."""
    ab = pairs.select(F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b"))
    bc = pairs.select(F.col("doc_id_1").alias("b"), F.col("doc_id_2").alias("c"))
    ac = pairs.select(F.col("doc_id_1").alias("a2"), F.col("doc_id_2").alias("c2"))
    return (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
    )


@register(
    "q_triangle_count_neardup",
    oracle=_TRIANGLE_ORACLE,
    tags=("graph", "triangles", "dedup"),
)
def q_triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle membership in the near-dup pair graph —
    the local-density signal pairwise dedup under-reports: a document
    in many triangles sits inside a mutually-similar TEMPLATE FAMILY
    (every member near-dups every other), where the right fix is one
    template rule, not O(family²) pairwise removals. Complements
    PageRank (hubness) and connected components (reach) as the third
    graph lens on the same pair plan.

    Triangles enumerate once each via the ordered two-path + closing
    edge (a<b<c by pair construction): two self-joins of the slim
    (id, id) edge list. Scale: the pair graph is orders of magnitude
    smaller than the corpus (it EXISTS only where near-dups do), joins
    are on 8-byte keys, and skew (one giant clique) is exactly what
    the LSH bucket cap already bounds upstream.
    """
    # persisted for the three self-join inputs of triangle_memberships;
    # like the pagerank edge cache, the blocks live until session end —
    # at 100 TB this is a parquet checkpoint of the (tiny) pair graph,
    # not an in-memory cache
    pairs = (
        minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2").persist()
    )
    return (
        triangle_memberships(pairs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# local clustering-coefficient / transitivity profile of the dup graph
# ---------------------------------------------------------------------------

#: per-node coefficient, ONE shared division of exact ints (t = the
#: node's triangle memberships, d its degree; wedges centered at the
#: node = d(d-1)/2, closed ones = t, so cc = 2t / d(d-1))
_CC_EXPR = "CAST(2 * t AS DOUBLE) / (d * (d - 1))"

_CLUSTERING_ORACLE = f"""
WITH {_TRIANGLE_MEMBERS_CTE},
deg AS (
    SELECT doc_id, count(*) AS d
    FROM (SELECT doc_id_1 AS doc_id FROM pairs
          UNION ALL SELECT doc_id_2 FROM pairs) e
    GROUP BY 1
),
tcnt AS (SELECT doc_id, count(*) AS t FROM members GROUP BY 1),
nodes AS (
    SELECT deg.doc_id, deg.d, coalesce(tcnt.t, 0) AS t
    FROM deg LEFT JOIN tcnt USING (doc_id)
    WHERE deg.d >= 2
)
SELECT CAST(least(8, d) AS BIGINT) AS deg_bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(t) AS BIGINT) AS tri_memberships,
       CAST(2 * sum(t) AS DOUBLE) / sum(d * (d - 1)) AS wedge_closure,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_sort(list({_CC_EXPR}))),
           (a, b) -> a + b) / CAST(count(*) AS DOUBLE) AS avg_local_cc
FROM nodes GROUP BY 1
"""


def clustering_profile(pairs: DataFrame) -> DataFrame:
    """Degree-bucketed local-clustering profile of an oriented
    (doc_id_1 < doc_id_2) edge list: for every node of degree ≥ 2,
    its local clustering coefficient 2t/d(d−1); per degree bucket
    (degree capped at 8) both aggregate views of closure — the
    ratio-of-sums ``wedge_closure`` (bucket transitivity: closed
    wedges / wedges, robust to hubs) and the mean-of-ratios
    ``avg_local_cc`` (Watts-Strogatz average, hub-insensitive).
    Exactness: t, d, Σt, Σd(d−1) are BIGINTs; each output float is
    one shared-text division (det_sum fold for the coefficient mean).
    """
    deg = (
        pairs.select(F.col("doc_id_1").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_id_2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tcnt = (
        triangle_memberships(pairs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    nodes = (
        deg.filter(F.col("d") >= 2)
        .join(tcnt, "doc_id", "left")
        .select("doc_id", "d", F.coalesce(F.col("t"), F.lit(0)).alias("t"))
    )
    return (
        nodes.groupBy(F.least(F.lit(8), F.col("d")).alias("deg_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("t").alias("tri_memberships"),
            F.sum(F.col("d") * (F.col("d") - 1)).alias("wedges2"),
            det_sum(_CC_EXPR).alias("cc_fold"),
        )
        .select(
            F.col("deg_bucket").cast("long").alias("deg_bucket"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("tri_memberships").cast("long").alias("tri_memberships"),
            F.expr(
                "CAST(2 * tri_memberships AS DOUBLE) / wedges2"
            ).alias("wedge_closure"),
            F.expr("cc_fold / CAST(n_nodes AS DOUBLE)").alias("avg_local_cc"),
        )
    )


@register(
    "q_dupgraph_clustering_profile",
    oracle=_CLUSTERING_ORACLE,
    tags=("graph", "clustering-coefficient", "transitivity", "dedup"),
)
def q_dupgraph_clustering_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering-coefficient profile of the near-dup pair graph
    by degree bucket: are a node's neighbours ALSO near-dups of each
    other? High closure at high degree = template families (dense
    cliques — dedup by one representative rule); low closure at high
    degree = hub contamination (one boilerplate page matching many
    unrelated docs — the LSH false-positive smell worth auditing).
    Completes the dup-graph diagnostics next to triangle membership,
    degree assortativity, k-core, PageRank, and source modularity,
    and reports BOTH closure estimators per bucket (ratio-of-sums
    transitivity vs mean-of-ratios Watts-Strogatz; their gap is
    itself the hub signal). Exact-int sums; see `clustering_profile`.

    Scale: everything runs on the pair graph (orders of magnitude
    smaller than the corpus), joins on 8-byte ids; the oriented
    two-path + closing-edge triangle join is the same plan the
    triangle-count query ships, and the LSH bucket cap bounds its
    skew upstream.
    """
    pairs = (
        minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2").persist()
    )
    return clustering_profile(pairs).orderBy("deg_bucket")
