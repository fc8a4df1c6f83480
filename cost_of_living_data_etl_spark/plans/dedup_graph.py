"""Near-dup graph analytics: what the dedup stage finds, and what it does
to the corpus.

The MinHash-LSH chain and the connected-components loop live in
``operators/dedup.py``; this module holds the queries that read their
pairs and cluster labels, plus two span-level miners beside them:

- ``q_containment_neardup_pairs`` — containment
  |A∩B| / min(|A|,|B|) over the LSH candidates: the small doc inside a
  big doc that symmetric Jaccard scores low.
- ``q_dedup_inflation_factor`` — how much token mass exact duplicates
  add per source.
- ``q_dedup_clusters_star`` — ``q_dedup_clusters`` registered under the
  graph tag as well.
- ``q_dupgraph_source_modularity`` — Newman modularity of the dup
  graph under the source partition: whether dedup can run per source
  or must run globally.
- ``q_source_dup_flow_matrix`` — the directed cross-source
  duplication-flow matrix (which sources feed which with near-dups).
- ``q_winnowing_overlap_pairs`` — winnowing (MOSS) span-overlap
  mining: md5 char-k-gram fingerprints with the window-min guarantee,
  span-level copying where MinHash sees whole-document sets.
- ``q_prefix_dup_families`` — templated-intro probe: md5 of the first
  ``PREFIX_CHARS`` chars → multi-doc prefix-family mass per source.
- ``q_dedup_keeper_source_shift`` — mixture-bias audit of dedup:
  per-source corpus share before vs after near-dup clusters collapse
  to their keeper.
- ``q_cluster_safe_split`` — train/val/test split hashed on the
  CLUSTER id, so near-dup families never straddle splits, with the
  count of documents a per-doc hash split would leak.
- ``q_minhash_jaccard_calibration`` — MinHash-estimated vs exact
  Jaccard on every verified near-dup pair: how biased the 16-perm
  sketch is on this corpus.

The cluster consumers replay the connected-components labels in their
oracles through ``_CLUSTERS_ORACLE``, so the labels they build on are
hash-verified too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cost_of_living_data_etl_spark.functions.checkpoints import eager_checkpoint
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.operators.dedup import (
    _CLUSTERS_ORACLE,
    minhash_pair_plan,
    q_dedup_clusters,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# containment near-dup pairs (asymmetric: small doc inside big doc)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.7


def _containment_oracle() -> str:
    from cost_of_living_data_etl_spark.operators.dedup import (
        BANDS,
        SHINGLES_SQL,
        _band_hash_sql,
        _minhash_agg_sql,
        _SHINGLE_H_SQL,
    )

    return f"""
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
      / least(length(s1.hset), length(s2.hset)) AS containment
FROM candidates c
JOIN mh s1 ON s1.doc_id = c.doc_id_1
JOIN mh s2 ON s2.doc_id = c.doc_id_2
WHERE length(list_intersect(s1.hset, s2.hset)) * 1.0
      / least(length(s1.hset), length(s2.hset)) >= {CONTAINMENT_THRESHOLD}
"""


@register(
    "q_containment_neardup_pairs",
    oracle=_containment_oracle(),
    tags=("dedup", "containment", "lsh"),
)
def q_containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.7 over
    hashed shingle sets, on MinHash band-join candidates.

    Jaccard misses the quote/boilerplate case an LLM pipeline cares
    about most — a short doc fully embedded in a long one scores
    |A|/|B| ≈ 0 Jaccard but 1.0 containment (Lee et al. 2022 dedup
    uses exactly this asymmetric test). Same signature table and
    candidate join as q_dedup_minhash_lsh (operators/dedup.py; shuffles
    ids + band hashes, never text); only the verification predicate
    differs. Note the recall caveat: MinHash collides on high JACCARD,
    so low-Jaccard/high-containment pairs are found only when the small
    doc still dominates a band — the production variant for exhaustive
    containment is the chunk-hash plan (q_crossdoc_substring_dups).
    """
    from cost_of_living_data_etl_spark.operators.dedup import (
        hset_containment,
        join_hsets,
        lsh_candidates,
        signature_table,
    )

    # max_bucket=None: the oracle replays the uncapped band join
    mh = signature_table(spark, sf_dir)
    return (
        join_hsets(lsh_candidates(mh, max_bucket=None), mh)
        .withColumn("containment", hset_containment())
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_id_1", "doc_id_2", "containment")
    )


# --------------------------------------------------------------------------
# dedup inflation factor (how much does exact dup inflate a source?)
# --------------------------------------------------------------------------

_INFLATION_ORACLE = """
WITH t AS (
    SELECT doc_id, source, md5(text) AS h,
           CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
    FROM documents
),
reps AS (
    SELECT h, min(doc_id) AS rep_id FROM t GROUP BY h
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT t.h) AS BIGINT) AS n_unique_texts,
       CAST(sum(t.n_tokens) AS BIGINT) AS raw_tokens,
       CAST(sum(CASE WHEN t.doc_id = r.rep_id THEN t.n_tokens ELSE 0 END)
            AS BIGINT) AS unique_tokens,
       sum(t.n_tokens) * 1.0
         / nullif(sum(CASE WHEN t.doc_id = r.rep_id THEN t.n_tokens ELSE 0 END), 0)
         AS token_inflation
FROM t JOIN reps r USING (h)
GROUP BY t.source
"""


@register(
    "q_dedup_inflation_factor",
    oracle=_INFLATION_ORACLE,
    tags=("dedup", "tokens", "diagnostics"),
)
def q_dedup_inflation_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate token inflation per source: raw token count vs
    tokens in one representative (min doc_id) per distinct text — the
    "effective dataset size" number that decides whether a source's
    contribution to a token budget is real or copies (a source at
    inflation 3× contributes a third of what its raw count claims).
    Shuffle carries md5 + token count per doc (40 B/doc); note the
    group-by key is the 16-byte hash, never the text.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.selectExpr(
        "doc_id",
        "source",
        "md5(text) AS h",
        r"CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tokens",
    )
    reps = t.groupBy("h").agg(F.min("doc_id").alias("rep_id"))
    j = t.join(reps, "h")
    uniq_tokens = F.sum(
        F.when(F.col("doc_id") == F.col("rep_id"), F.col("n_tokens")).otherwise(
            F.lit(0)
        )
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_unique_texts"),
        F.sum("n_tokens").cast("long").alias("raw_tokens"),
        uniq_tokens.cast("long").alias("unique_tokens"),
        # nullif: a degenerate source can zero the denominator — ANSI
        # Spark raises on /0 while DuckDB NULLs, so NULL explicitly on
        # both engines (round-6 review catch)
        (F.sum("n_tokens") * 1.0 / F.nullif(uniq_tokens, F.lit(0))).alias(
            "token_inflation"
        ),
    )


# --------------------------------------------------------------------------
# connected components by alternating large-star / small-star
# --------------------------------------------------------------------------


@register(
    "q_dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "clustering", "iterative", "graph"),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star connected components (star_components)
    over the near-dup pair graph: doc_id → min doc_id of its component,
    singletons included. Same computation and recursive-CTE oracle as
    q_dedup_clusters, registered under the graph tag as well."""
    return q_dedup_clusters(spark, sf_dir)


# --------------------------------------------------------------------------
# dup-graph source modularity (global-vs-per-source dedup decision)
# --------------------------------------------------------------------------

_SRC_MOD_ORACLE = """
WITH pairs AS MATERIALIZED (
    SELECT doc_id_1, doc_id_2 FROM ({MINHASH}) p
),
lab AS (SELECT doc_id, source FROM documents),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
tagged AS (
    SELECT l1.source AS s1, l2.source AS s2
    FROM pairs p
    JOIN lab l1 ON p.doc_id_1 = l1.doc_id
    JOIN lab l2 ON p.doc_id_2 = l2.doc_id
),
ec AS (
    SELECT s1 AS source, CAST(count(*) AS BIGINT) AS e_c
    FROM tagged WHERE s1 = s2 GROUP BY 1
),
deg AS (
    SELECT id, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT doc_id_1 AS id FROM pairs
          UNION ALL SELECT doc_id_2 FROM pairs)
    GROUP BY 1
),
dc AS (
    SELECT l.source, CAST(sum(d.d) AS BIGINT) AS d_c
    FROM deg d JOIN lab l ON d.id = l.doc_id GROUP BY 1
),
terms AS (
    SELECT coalesce(e.e_c, 0) * 1.0 / m.m
           - (dc.d_c * 1.0 / (2 * m.m)) * (dc.d_c * 1.0 / (2 * m.m)) AS term,
           coalesce(e.e_c, 0) AS e_c
    FROM dc LEFT JOIN ec e USING (source) CROSS JOIN m
)
SELECT m.m AS n_edges,
       CAST(sum(t.e_c) AS BIGINT) AS n_intra_edges,
       1.0 - sum(t.e_c) * 1.0 / m.m AS cross_source_share,
       list_reduce(list_sort(list(t.term)), (a, b) -> a + b) AS modularity
FROM terms t CROSS JOIN m
GROUP BY m.m
"""


@register(
    "q_dupgraph_source_modularity",
    oracle=None,  # wired below: needs _MINHASH_ORACLE from operators.dedup
    tags=("graph", "modularity", "dedup", "mixture"),
)
def q_dupgraph_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-dup pair graph under the SOURCE
    partition — the global-vs-per-source dedup decision in one number.
    Q near its maximum (every family inside one source) means
    per-source dedup loses almost nothing and the pipeline can shard
    by source; Q ≈ 0 or negative (intra-source edge mass no better
    than the degree-weighted random expectation) means syndication/
    mirroring crosses sources and only GLOBAL dedup is sound. The
    companion exact ratio `cross_source_share` = fraction of near-dup
    pairs crossing sources reads the same decision without the
    null-model correction.

    Q = Σ_src [e_c/m − (d_c/2m)²] over exact BIGINT edge counts and
    degree sums; each term is two divisions and a multiply of exact
    ints (IEEE-identical cross-engine), folded in det_sum order.
    Unlike a modularity over the CC partition itself (where every
    edge is intra by construction and Q degenerates to 1 − Σ(d_c/2m)²),
    the source partition is independent of the edges, so both terms
    carry information. Scale: joins/aggregates on ids and source keys
    only; the pair plan runs once (localCheckpoint), |sources|-bounded
    state thereafter.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = (
        minhash_pair_plan(spark, sf_dir)
        .select("doc_id_1", "doc_id_2")
        .transform(eager_checkpoint)
    )
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    tagged = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_id_1"), F.col("source").alias("s1")
            ),
            "doc_id_1",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_id_2"), F.col("source").alias("s2")
            ),
            "doc_id_2",
        )
    )
    ec = (
        tagged.filter(F.col("s1") == F.col("s2"))
        .groupBy(F.col("s1").alias("source"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = (
        pairs.select(F.col("doc_id_1").alias("id"))
        .unionAll(pairs.select(F.col("doc_id_2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        deg.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(F.sum("d").alias("d_c"))
    )
    terms = (
        dc.join(ec, "source", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
            (
                F.coalesce(F.col("e_c"), F.lit(0)) / F.col("m")
                - (F.col("d_c") / (2 * F.col("m")))
                * (F.col("d_c") / (2 * F.col("m")))
            ).alias("term"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(m))
        .groupBy("m")
        .agg(
            F.sum("e_c").alias("n_intra_edges"),
            (F.lit(1.0) - F.sum("e_c") / F.col("m")).alias(
                "cross_source_share"
            ),
            det_sum("term").alias("modularity"),
        )
        .select(
            F.col("m").alias("n_edges"),
            F.col("n_intra_edges").cast("long"),
            "cross_source_share",
            "modularity",
        )
    )


def _wire_src_mod_oracle() -> None:
    import dataclasses

    from cost_of_living_data_etl_spark.operators.dedup import _MINHASH_ORACLE
    from cost_of_living_data_etl_spark.plans.catalog import _REGISTRY

    _REGISTRY["q_dupgraph_source_modularity"] = dataclasses.replace(
        _REGISTRY["q_dupgraph_source_modularity"],
        oracle=_SRC_MOD_ORACLE.format(MINHASH=_MINHASH_ORACLE),
    )


_wire_src_mod_oracle()


# --------------------------------------------------------------------------
# directed cross-source duplication-flow matrix
# --------------------------------------------------------------------------


def _flow_oracle() -> str:
    from cost_of_living_data_etl_spark.operators.dedup import _MINHASH_ORACLE

    return f"""
WITH pairs AS (
    SELECT doc_id_1, doc_id_2 FROM ( {_MINHASH_ORACLE} )
),
f AS (
    SELECT d1.source AS src_source, d2.source AS dst_source,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN documents d1 ON d1.doc_id = p.doc_id_1
    JOIN documents d2 ON d2.doc_id = p.doc_id_2
    GROUP BY d1.source, d2.source
)
SELECT src_source, dst_source, n_pairs,
       n_pairs * 1.0 / sum(n_pairs) OVER (PARTITION BY dst_source)
           AS share_of_dst_dups
FROM f
"""


@register(
    "q_source_dup_flow_matrix",
    oracle=_flow_oracle(),
    tags=("dedup", "provenance", "mixture-design"),
)
def q_source_dup_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed duplication flows between sources: for every near-dup
    pair, credit the EARLIER doc (smaller doc_id = earlier crawl) as
    the origin and the later one as the copier, and roll up to a
    (src_source, dst_source) matrix with each cell's share of the
    destination's dup intake. q_dupgraph_source_modularity answers
    "is duplication within or across sources"; this names WHICH
    sources feed which — the provenance evidence a mixture designer
    uses to decide which feed to drop when two overlap.

    Scale: reuses the persisted-signature band-join pair plan (the
    shared LSH shuffle discipline); the source stamp joins 8-byte
    doc_ids on the sub-linear pair set, then a |sources|² rollup.
    """
    from cost_of_living_data_etl_spark.operators.dedup import (
        minhash_pair_plan,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = minhash_pair_plan(spark, sf_dir).select("doc_id_1", "doc_id_2")
    f = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("source").alias("src_source"),
            ),
            "doc_id_1",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("source").alias("dst_source"),
            ),
            "doc_id_2",
        )
        .groupBy("src_source", "dst_source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return f.selectExpr(
        "src_source",
        "dst_source",
        "n_pairs",
        "CAST(n_pairs AS DOUBLE) / sum(n_pairs)"
        " OVER (PARTITION BY dst_source) AS share_of_dst_dups",
    )


# --------------------------------------------------------------------------
# winnowing fingerprints + span-overlap pair mining (MOSS)
# --------------------------------------------------------------------------

WINNOW_K = 25       # char k-gram width (~5 words: the MOSS/quotation
                    # regime; 8 chars saturated the synthetic 30-word
                    # vocabulary — at 50k docs every 2-word window was
                    # corpus-common and the IDF gate left zero pairs)
WINNOW_W = 4        # winnowing window (fingerprint density guarantee)
WINNOW_MIN_SHARED = 3
WINNOW_MIN_DF_CAP = 5     # IDF gate floor …
WINNOW_DF_FRAC = 0.01     # … and its relative form: fingerprints in
                          # > max(5, 1% of docs) docs are too common to
                          # be evidence of copying (and each join
                          # bucket is df² — the LSH max_bucket
                          # discipline). A fixed absolute cap
                          # degenerated to zero pairs as the corpus
                          # grew (everything common at 50k docs);
                          # the relative gate keeps the instrument
                          # corpus-size-robust while equal to the old
                          # cap (5) at the 500-doc verification SFs.

# char-gram hash: md5 of each overlapping k-gram string, first 15 hex
# digits mod 2^31-1 — the MINHASH shingle-hash recipe, so both engines
# see identical fingerprint sets by construction. The k-gram strings
# come from ONE native pass per engine: a zero-width-lookahead
# regexp_extract_all on Spark (RE2-based DuckDB lacks lookahead, so
# the oracle builds the same strings with a substring lambda). A
# previous revision hashed per-position with an 8-step Horner tree:
# higher-order-function lambdas are interpreted, not codegen'd, and
# the ~30-node tree measured ~12 s warm at sf0.1 vs ~2 s for the
# single JVM md5 call per gram.
_WIN_GRAMS_SPARK = (  # (?s): '.' must cross newlines, like substring does
    f"regexp_extract_all(t, '(?s)(?=(.{{{WINNOW_K}}}))', 1)"
)
_WIN_HASH_LAMBDA_SPARK = (
    "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT) % 2147483647"
)
_WIN_HS_DUCK = f"""list_transform(
                   range(1, greatest(length(t) - {WINNOW_K - 1}, 1) + 1),
                   i -> CAST(('0x' || substr(md5(substring(t, CAST(i AS INT), {WINNOW_K})), 1, 15)) AS BIGINT) % 2147483647)"""

_WINNOW_ORACLE = f"""
WITH fp AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(length(hs) - {WINNOW_W - 1}, 1) + 1),
               w -> list_min(hs[CAST(w AS INT):CAST(w + {WINNOW_W - 1} AS INT)])
           )) AS fps
    FROM (
        SELECT doc_id,
               {_WIN_HS_DUCK} AS hs
        FROM (SELECT doc_id,
                     CASE WHEN length(t0) < {WINNOW_K}
                          THEN rpad(t0, {WINNOW_K}, ' ') ELSE t0 END AS t
              FROM (SELECT doc_id, trim(text) AS t0 FROM documents))
    )
),
sizes AS (SELECT doc_id, CAST(length(fps) AS BIGINT) AS n_fp FROM fp),
nd AS (SELECT greatest({WINNOW_MIN_DF_CAP},
                       CAST(ceil({WINNOW_DF_FRAC} * count(*)) AS BIGINT))
         AS max_df FROM documents),
ex0 AS (SELECT doc_id, unnest(fps) AS f FROM fp),
rare AS (
    SELECT f FROM ex0 CROSS JOIN nd GROUP BY f, nd.max_df
    HAVING count(DISTINCT doc_id) <= nd.max_df
),
ex AS (SELECT doc_id, f FROM ex0 JOIN rare USING (f)),
shared AS (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT s.doc_id_1, s.doc_id_2, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / least(z1.n_fp, z2.n_fp) AS containment
FROM shared s
JOIN sizes z1 ON z1.doc_id = s.doc_id_1
JOIN sizes z2 ON z2.doc_id = s.doc_id_2
"""


@register(
    "q_winnowing_overlap_pairs",
    oracle=_WINNOW_ORACLE,
    tags=("dedup", "winnowing", "fingerprinting"),
)
def q_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) span-overlap mining: per doc, hash every char
    {WINNOW_K}-gram, keep the minimum of each sliding {WINNOW_W}-window
    (the winnowing guarantee: any shared substring of length
    k+w-1 = {WINNOW_K + WINNOW_W - 1} yields at least one shared
    fingerprint), then mine doc pairs sharing ≥{WINNOW_MIN_SHARED}
    fingerprints with a containment score. This is SPAN-level overlap
    — the plagiarism/quotation detector — where MinHash answers
    whole-document set similarity: two docs sharing one long verbatim
    passage score near zero Jaccard but light up here.

    Scale shape: gram hashing and window minima are ALL in-row HOFs
    (zero shuffle until fingerprints — ~1/{WINNOW_W} of char count —
    explode); the pair stage is the same fingerprint equi-join
    discipline as the LSH band join, and the same bucket-cap guard
    applies to boilerplate fingerprints at production scale
    (operators/dedup.py::neardup_pairs_from_sigs max_bucket).
    """
    fp = (
        # parallel=True: char-gram md5 hashing is the dominant serial
        # kernel; fingerprints/counts are order-free ints (round 9)
        load_table(spark, sf_dir, "documents", parallel=True)
        # pad-ONLY-short-docs to k chars: rpad alone also TRUNCATES
        # longer strings (round-6 review catch: plain rpad(t, 8) cut
        # every doc to its first 8 chars and the miner returned zero
        # rows on every corpus)
        .selectExpr("doc_id", "trim(text) AS t0")
        .selectExpr(
            "doc_id",
            f"CASE WHEN length(t0) < {WINNOW_K}"
            f" THEN rpad(t0, {WINNOW_K}, ' ') ELSE t0 END AS t",
        )
        .selectExpr(
            "doc_id",
            f"transform({_WIN_GRAMS_SPARK}, {_WIN_HASH_LAMBDA_SPARK}) AS hs",
        )
        .selectExpr(
            "doc_id",
            # window minima via zip_with of shifted slices, NOT a
            # transform-over-positions lambda: a lambda referencing hs
            # re-evaluates the WHOLE gram-hash array per window
            # (O(L²) md5s per doc — measured as a hang at 500 docs);
            # zip_with's array arguments are row-level expressions,
            # evaluated once per row. W=4 as a least-tree.
            "array_distinct(CASE WHEN size(hs) < 4 THEN array(array_min(hs))"
            " ELSE zip_with("
            "   zip_with(slice(hs, 1, size(hs) - 3), slice(hs, 2, size(hs) - 3),"
            "            (a, b) -> least(a, b)),"
            "   zip_with(slice(hs, 3, size(hs) - 3), slice(hs, 4, size(hs) - 3),"
            "            (a, b) -> least(a, b)),"
            "   (x, y) -> least(x, y)) END) AS fps",
        )
        # materialize before the self-join: every downstream reference
        # (ex ×2 sides, rare, sizes ×2) would otherwise re-inline the
        # whole Horner+window-min expression tree — past codegen's
        # size limits the interpreted fallback turned sf0.01 into a
        # multi-minute job (review catch); one checkpointed
        # fingerprint table is the dedup-family persist discipline
        .transform(eager_checkpoint)
    )
    sizes = fp.selectExpr("doc_id", "CAST(size(fps) AS BIGINT) AS n_fp")
    nd = fp.agg(
        F.greatest(
            F.lit(WINNOW_MIN_DF_CAP).cast("long"),
            F.ceil(F.lit(WINNOW_DF_FRAC) * F.count(F.lit(1))).cast("long"),
        ).alias("max_df")
    )
    ex0 = fp.selectExpr("doc_id", "explode(fps) AS f")
    # pair mining via ONE groupBy(f) + in-row pair generation: collect
    # the (distinct-by-construction) doc set per fingerprint, gate on
    # its size (≡ count_distinct ≤ max_df — the old df-rollup + semi-
    # join), and emit the sorted set's i<j pairs with a nested
    # transform (≡ the old a.f = b.f AND a.doc_id < b.doc_id
    # self-join). Replaces 2 exchanges on f + a sort-merge self-join
    # with 1 exchange + a hash aggregate; pair volume is unchanged and
    # df-capped, so the in-row expansion is bounded by max_df²/2.
    # Plan evidence: plans/r09/q_winnowing_overlap_pairs_{before,after}.txt.
    #
    # HOT-FINGERPRINT PREFILTER (round 10, closing the r9 verdict's §5
    # risk): the bare collect_set materialized the FULL doc set per
    # fingerprint BEFORE the size gate — a boilerplate fingerprint
    # shared by 10⁸ docs would build a 10⁸-element array as ONE
    # aggregation value in one task (agg buffers must fit in memory;
    # only whole-row state spills). The fix is the LSH bucket-cap
    # discipline (operators/dedup.py::neardup_pairs_from_sigs): a
    # window `count(*) over (partition by f)` on the aggregate's OWN
    # key — the window's required partitioning equals the groupBy's,
    # so ONE exchange serves both, WindowExec streams each f-group
    # through a disk-spillable buffer (never a single array value),
    # and the over-cap fingerprints are dropped BEFORE the collect.
    # Exactly equivalent: (doc_id, f) pairs are distinct by
    # construction, so count(*) ≡ count_distinct(doc_id) ≡ size(ds)
    # (oracle-verified at 3 SFs). Interleaved A/B vs the bare form:
    # 1.55 → 1.71 s med (the window's sort on f) — the price of the
    # bounded buffer; a count-rollup + broadcast anti-join variant was
    # REJECTED at 1.96 s med (two extra stages + broadcast build).
    wcap = Window.partitionBy("f")
    shared = (
        ex0.withColumn("__df", F.count(F.lit(1)).over(wcap))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("__df") <= F.col("max_df"))
        .groupBy("f")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds)), y ->"
                    " struct(x AS d1, y AS d2))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.d1").alias("doc_id_1"),
            F.col("p.d2").alias("doc_id_2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return (
        shared.join(
            sizes.selectExpr("doc_id AS doc_id_1", "n_fp AS n_fp_1"),
            "doc_id_1",
        )
        .join(
            sizes.selectExpr("doc_id AS doc_id_2", "n_fp AS n_fp_2"),
            "doc_id_2",
        )
        .selectExpr(
            "doc_id_1",
            "doc_id_2",
            "n_shared",
            "CAST(n_shared AS DOUBLE) / least(n_fp_1, n_fp_2) AS containment",
        )
    )


# --------------------------------------------------------------------------
# templated-prefix duplicate families
# --------------------------------------------------------------------------

PREFIX_CHARS = 96

_PREFIX_DUP_ORACLE = f"""
WITH fam AS (
    SELECT source, md5(substr(text, 1, {PREFIX_CHARS})) AS pfx,
           count(*) AS fam_n
    FROM documents GROUP BY source, md5(substr(text, 1, {PREFIX_CHARS}))
)
SELECT source,
       CAST(sum(fam_n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_prefix_families,
       CAST(sum(CASE WHEN fam_n > 1 THEN fam_n ELSE 0 END) AS BIGINT)
         AS n_templated_docs,
       sum(CASE WHEN fam_n > 1 THEN fam_n ELSE 0 END) * 1.0 / sum(fam_n)
         AS templated_rate,
       CAST(max(fam_n) AS BIGINT) AS max_family
FROM fam GROUP BY source
"""


@register(
    "q_prefix_dup_families",
    oracle=_PREFIX_DUP_ORACLE,
    tags=("dedup", "boilerplate", "curation"),
)
def q_prefix_dup_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-intro detection: group each source's documents by the
    md5 of their first {PREFIX_CHARS} characters and measure how much
    of the source lives in multi-document prefix families — the cheap
    probe for boilerplate openers (auto-generated pages, scraped
    templates) that full-document dedup misses because the BODIES
    differ. Complements q_boilerplate_ngram_coverage (which needs
    n-gram mining) with a single-pass groupBy: at 100 TB this is one
    partial-aggregated shuffle on (source, prefix-hash)."""
    docs = load_table(spark, sf_dir, "documents")
    fam = docs.groupBy(
        "source",
        F.md5(F.substring("text", 1, PREFIX_CHARS).cast("binary")).alias("pfx"),
    ).agg(F.count(F.lit(1)).alias("fam_n"))
    return fam.groupBy("source").agg(
        F.sum("fam_n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_prefix_families"),
        F.sum(F.when(F.col("fam_n") > 1, F.col("fam_n")).otherwise(0))
        .cast("long")
        .alias("n_templated_docs"),
        (
            F.sum(F.when(F.col("fam_n") > 1, F.col("fam_n")).otherwise(0))
            * F.lit(1.0)
            / F.sum("fam_n")
        ).alias("templated_rate"),
        F.max("fam_n").cast("long").alias("max_family"),
    )


# --------------------------------------------------------------------------
# dedup keeper source shift (mixture bias audit of the dedup stage)
# --------------------------------------------------------------------------

# the connected-components oracle (_CLUSTERS_ORACLE: doc_id,
# cluster_id) is the {clusters} subquery of both cluster-composition
# oracles below
_KEEPER_SHIFT_ORACLE = f"""
WITH cl AS ( {{clusters}} ),
j AS (
    SELECT d.source, d.n_chars,
           CASE WHEN d.doc_id = cl.cluster_id THEN 1 ELSE 0 END AS kept
    FROM documents d JOIN cl ON d.doc_id = cl.doc_id
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS all_docs,
           CAST(sum(kept) AS BIGINT) AS all_kept
    FROM j
)
SELECT j.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       sum(kept) * 1.0 / count(*) AS kept_rate,
       count(*) * 1.0 / max(t.all_docs) AS share_before,
       sum(kept) * 1.0 / max(t.all_kept) AS share_after,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_kept
FROM j CROSS JOIN tot t
GROUP BY j.source
"""


@register(
    "q_dedup_keeper_source_shift",
    oracle=_KEEPER_SHIFT_ORACLE.format(clusters=_CLUSTERS_ORACLE),
    tags=("dedup", "mixture", "bias-audit", "training-data"),
)
def q_dedup_keeper_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-bias audit of the dedup stage: per source, how the
    corpus share SHIFTS when near-dup clusters collapse to their
    keeper (min doc_id of the connected component — the production
    dedup output). A source that duplicates heavily (content farms,
    mirrors) loses share after dedup; training-mixture weights set on
    PRE-dedup counts silently over-weight it. share_before vs
    share_after is the correction factor a mixture designer applies.

    Composition: the hash-verified CC labels (q_dedup_clusters — star
    contraction, replayed in the oracle as the same recursive CTE)
    joined back to source labels; everything after
    the labels is one partial-aggregated groupBy(source) plus a
    broadcast 2-scalar total. Scale: inherits CC's edge-bounded
    shuffles; the audit adds one |docs| join on doc_id.
    """
    from cost_of_living_data_etl_spark.operators.dedup import q_dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    cl = q_dedup_clusters(spark, sf_dir)
    j = docs.join(cl, "doc_id").select(
        "source",
        "n_chars",
        F.when(F.col("doc_id") == F.col("cluster_id"), 1)
        .otherwise(0)
        .alias("kept"),
    )
    # ONE pass over j: the corpus totals are exact-integer sums of the
    # per-source rollup, so the labels+docs join no longer re-derives
    # for a separate global-total branch (round 9; the ratios divide
    # the same longs as before, so the doubles are bit-identical)
    per_source = (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
        # |sources| rows; without this the tot branch prunes the chars
        # columns, defeating ReuseExchange, and j derives twice anyway
        .transform(eager_checkpoint)
    )
    tot = per_source.groupBy().agg(
        F.sum("n_docs").cast("long").alias("all_docs"),
        F.sum("n_kept").cast("long").alias("all_kept"),
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_kept") * F.lit(1.0) / F.col("n_docs")).alias("kept_rate"),
        (F.col("n_docs") * F.lit(1.0) / F.col("all_docs")).alias(
            "share_before"
        ),
        (F.col("n_kept") * F.lit(1.0) / F.col("all_kept")).alias(
            "share_after"
        ),
        "chars_total",
        "chars_kept",
    )


# --------------------------------------------------------------------------
# cluster-safe train/val/test split (near-dup leakage prevention)
# --------------------------------------------------------------------------

_SPLIT_TRAIN_CUT = 80
_SPLIT_VAL_CUT = 90

_CSPLIT_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast({k} AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT) % 100"
)
_CSPLIT_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
)

_CSPLIT_CASE = (
    "CASE WHEN {b} < " + str(_SPLIT_TRAIN_CUT) + " THEN 'train' "
    "WHEN {b} < " + str(_SPLIT_VAL_CUT) + " THEN 'val' ELSE 'test' END"
)

_CLUSTER_SPLIT_ORACLE = f"""
WITH cl AS ( {{clusters}} ),
assigned AS (
    SELECT cl.doc_id, cl.cluster_id,
           {_CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SQL.format(k="cl.cluster_id"))}
             AS split,
           {_CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SQL.format(k="cl.doc_id"))}
             AS naive_split
    FROM cl
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN naive_split <> split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_rescued
FROM assigned GROUP BY split
"""


@register(
    "q_cluster_safe_split",
    oracle=_CLUSTER_SPLIT_ORACLE.format(clusters=_CLUSTERS_ORACLE),
    tags=("training-prep", "split", "dedup", "leakage"),
)
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-leakage-safe train/val/test split: the split is a
    deterministic md5 bucket of the CLUSTER id, so every member of a
    near-dup family lands in the SAME split — a per-document hash
    split leaks paraphrases of training documents into the eval sets
    (the eval-contamination failure mode dedup papers warn about;
    q_leakage_safe_split_by_source solves the same problem at source
    grain, this is the fine-grained version). ``n_docs_rescued``
    counts documents whose naive per-doc split would have DISAGREED
    with their family's split — the leakage surface this operator
    closes.

    Scale: CC labels (edge-bounded shuffles) + one map-side md5 per
    row + one groupBy(split) to 3 rows. Same split cuts (80/10/10)
    and md5-bucket idiom as q_train_val_test_split, so the two
    operators compose.
    """
    from cost_of_living_data_etl_spark.operators.dedup import q_dedup_clusters

    cl = q_dedup_clusters(spark, sf_dir)
    assigned = cl.selectExpr(
        "doc_id",
        "cluster_id",
        _CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SPARK.format(k="cluster_id"))
        + " AS split",
        _CSPLIT_CASE.format(b=_CSPLIT_BUCKET_SPARK.format(k="doc_id"))
        + " AS naive_split",
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum(F.when(F.col("naive_split") != F.col("split"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_rescued"),
    )


# --------------------------------------------------------------------------
# MinHash-vs-exact Jaccard calibration on verified pairs
# --------------------------------------------------------------------------


def _calibration_oracle() -> str:
    from cost_of_living_data_etl_spark.operators.dedup import (
        _MINHASH_ORACLE,
        _SHINGLE_H_SQL,
        _minhash_agg_sql,
        NUM_PERM,
        SHINGLES_SQL,
    )

    match_terms = " + ".join(
        f"CAST(s1.mh{j} = s2.mh{j} AS INT)" for j in range(NUM_PERM)
    )
    return f"""
WITH sh AS (
    SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hx AS (SELECT doc_id, {_SHINGLE_H_SQL} AS h FROM ex),
mh AS (SELECT doc_id, {_minhash_agg_sql()} FROM hx GROUP BY doc_id),
pairs AS (SELECT doc_id_1, doc_id_2, jaccard FROM ({_MINHASH_ORACLE}) p),
scored AS (
    SELECT p.jaccard, ({match_terms}) AS n_matches
    FROM pairs p
    JOIN mh s1 ON s1.doc_id = p.doc_id_1
    JOIN mh s2 ON s2.doc_id = p.doc_id_2
)
SELECT CAST(n_matches AS INT)          AS n_matches,
       n_matches / {float(NUM_PERM)}   AS est_jaccard,
       CAST(count(*) AS BIGINT)        AS n_pairs,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(jaccard))),
                   (a, b) -> a + b) / count(*) AS mean_exact_jaccard,
       n_matches / {float(NUM_PERM)}
       - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(jaccard))),
                     (a, b) -> a + b) / count(*) AS bias
FROM scored
GROUP BY n_matches
"""


@register(
    "q_minhash_jaccard_calibration",
    oracle=_calibration_oracle(),
    tags=("dedup", "minhash", "calibration"),
)
def q_minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration audit of the 16-perm MinHash: on every
    VERIFIED near-dup pair, compare the signature-estimated Jaccard
    (matching components / 16) against the exact hashed-shingle
    Jaccard, grouped by agreement count — the measured bias table that
    says whether the sketch under- or over-promotes candidates on THIS
    corpus (the input to choosing NUM_PERM/BANDS, which the LSH recall
    math assumes unbiased).

    Scale: pairs are the already-bucketed LSH miner output (never
    all-pairs); the SAME persisted signature table feeds both the
    miner and the two calibration joins, so the corpus is shingled
    exactly once (a separate minhash_pair_plan call would shingle it
    twice, which grew 5.1× over the sf0.1→sf1.0 decade); the result
    is ≤ NUM_PERM+1 rows. Exact means fold via det_sum.
    """
    from cost_of_living_data_etl_spark.operators.dedup import (
        NUM_PERM,
        neardup_pairs_from_sigs,
        signature_table,
    )

    mh_full = signature_table(spark, sf_dir)
    pairs = neardup_pairs_from_sigs(mh_full)
    mh = mh_full.select("doc_id", *[f"mh{j}" for j in range(NUM_PERM)])
    s1 = mh.select(
        F.col("doc_id").alias("doc_id_1"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_PERM)],
    )
    s2 = mh.select(
        F.col("doc_id").alias("doc_id_2"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_PERM)],
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(NUM_PERM)
    )
    scored = (
        pairs.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select("jaccard", matches.cast("int").alias("n_matches"))
    )
    est = F.max("n_matches") / F.lit(float(NUM_PERM))  # constant per group
    return scored.groupBy("n_matches").agg(
        est.alias("est_jaccard"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (det_sum("jaccard") / F.count(F.lit(1))).alias("mean_exact_jaccard"),
        (est - det_sum("jaccard") / F.count(F.lit(1))).alias("bias"),
    )
