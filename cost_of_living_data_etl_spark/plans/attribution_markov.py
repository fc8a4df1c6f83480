"""Markov removal-effect conversion attribution.

The third classic multi-touch attribution model beside the catalog's
heuristic `q_decay_attribution` and game-theoretic
`q_shapley_channel_attribution` (same journey convention: one
(user, day), same channel set): model each journey as a first-order
Markov chain walk START → channel → … → {CONV, NULL}, and credit
channel c by its REMOVAL EFFECT — how much absorption probability
into CONV is lost when c is switched off (its incoming transitions
redirected to the NULL absorber), the Anderl et al. (2014) estimator.

Exactness/parity design: absorption probabilities are defined as the
K-step truncation v_K(s) = P(absorbed at CONV within K steps | s),
computed by K unrolled value-iteration steps v_{k+1} = b + Q·v_k over
the ≤5-state transient chain. Both engines execute the SAME generated
SQL text — the transition matrix is pivoted to ONE row of 25
q_{src}_{dst} doubles (each ONE division of exact BIGINT counts) and
each iteration is a 1-row × 1-row cross join whose ≤5-term sums are
written in fixed literal order, so the truncated values are
bit-identical by construction (no convergence tolerance enters the
result). Removing channel c = clamping v(c) ≡ 0 in the recursion,
which is exactly "transitions into c go to NULL" — so all five chain
variants (full + 4 removals) share one counts relation and one CTE
chain (21 value columns per step).

100 TB: the only data-scale stages are the per-journey row_number /
lag windows (shuffle key (user_id, day), ~20-byte rows) and the
(src, dst) count rollup — 30 keys regardless of corpus; the entire
solve happens on one row. More channels grow the pivot quadratically
(n² q-columns); at n ≳ 50 switch the solve to an iterated DataFrame
join over the (src, dst, p) edge table instead of the pivot.

The Shapley model (`q_shapley_channel_attribution`) is defined first
in this module; the Markov model reuses its ``SHAPLEY_CHANNELS``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
)
from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.plans.mllite import _DSUM_SQL
from cost_of_living_data_etl_spark.sources.tables import load_table


# --- Shapley channel attribution ---------------------------------------------

#: the non-conversion channels, alphabetical; bit i = position here.
SHAPLEY_CHANNELS = ("click", "error", "signup", "view")


def _shapley_const_rows() -> list[tuple[str, int, int, float]]:
    """(channel, mask_with, mask_without, weight) for every channel ×
    coalition-not-containing-it: weight = |S|!·(n−1−|S|)!/n!. Exact
    small rationals in float64; ONE Python source feeds Spark's
    createDataFrame and (via repr) the oracle's VALUES list, so both
    engines hold identical doubles."""
    import math

    n = len(SHAPLEY_CHANNELS)
    rows = []
    for i, ch in enumerate(SHAPLEY_CHANNELS):
        for s in range(1 << n):
            if s & (1 << i):
                continue
            k = bin(s).count("1")
            w = math.factorial(k) * math.factorial(n - 1 - k) / math.factorial(n)
            rows.append((ch, s | (1 << i), s, w))
    return rows


_CH_BIT_CASE = "CASE event_type " + " ".join(
    f"WHEN '{ch}' THEN {1 << i}" for i, ch in enumerate(SHAPLEY_CHANNELS)
) + " ELSE 0 END"

#: per (constant row × observed coalition) marginal indicator: the
#: journeys of coalition m contribute to v(S∪{ch}) − v(S) exactly when
#: m ⊆ S∪{ch} and m ⊄ S — i.e. ch ∈ m and the rest of m ⊆ S. ONE
#: shared text (& is bitwise AND on both engines).
_SHAPLEY_DELTA = (
    "CASE WHEN (mask & mask_with) = mask"
    " AND (mask & mask_without) <> mask"
    " THEN w * CAST(conv AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
)


def _shapley_oracle() -> str:
    values = ",\n        ".join(
        f"('{ch}', {mw}, {mo}, CAST({w!r} AS DOUBLE))"
        for ch, mw, mo, w in _shapley_const_rows()
    )
    return f"""
WITH bits AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           {_CH_BIT_CASE} AS bit,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
    FROM events
),
journeys AS (
    SELECT user_id, day, bit_or(bit) AS mask, max(conv) AS converted
    FROM bits GROUP BY user_id, day
),
v AS (
    SELECT mask, CAST(sum(converted) AS BIGINT) AS conv
    FROM journeys WHERE mask <> 0 GROUP BY mask
),
const(channel, mask_with, mask_without, w) AS (
    VALUES {values}
),
contrib AS (
    SELECT c.channel, {_SHAPLEY_DELTA} AS term
    FROM const c CROSS JOIN v
),
phi AS (
    SELECT channel, {_DSUM_SQL.format(x="term")} AS shapley_conversions
    FROM contrib GROUP BY channel
),
tot AS (SELECT CAST(sum(converted) AS DOUBLE) AS total
        FROM journeys WHERE mask <> 0)
SELECT channel, shapley_conversions,
       shapley_conversions / total AS share
FROM phi, tot ORDER BY channel
"""


@register(
    "q_shapley_channel_attribution",
    oracle=_shapley_oracle(),
    tags=("attribution", "shapley", "marketing", "game-theory"),
)
def q_shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value conversion attribution over channel
    coalitions: a journey = one (user, day); its coalition = the set
    of non-purchase channels touched; the cooperative game is the
    COUNTING game v(S) = conversions from journeys whose coalition
    ⊆ S — monotone by construction, v(∅) = 0, defined for every S from
    observed data alone. φ_ch = Σ_S |S|!(n−1−|S|)!/n!·(v(S∪{ch})−v(S))
    is then the unique efficient/symmetric/marginal credit split:
    Σφ = v(all channels) = total attributed conversions, a channel
    touched by no converting journey gets EXACTLY 0 (the exact-set
    "v = observed rate, unobserved = 0" variant violates both — it
    hands negative credit to never-seen channels), and the credits are
    in conversion units, directly comparable to `q_decay_attribution`'s
    heuristic weights.

    Exactness over approximation: n = 4 channels ⇒ 2ⁿ coalitions, so
    the game is solved EXACTLY with a constant (channel, S∪ch, S,
    weight) table built once in Python and shared verbatim with the
    oracle (identical doubles by repr round-trip). The marginal
    v(S∪{ch}) − v(S) collapses to one subset-mask indicator per
    (constant row × observed coalition) — conversion counts stay exact
    BIGINTs; only the ≤ 32×15-term weighted det-fold is float.

    Scale: the per-journey aggregate is the only data-scale shuffle
    (|users|×|days| groups, partial-aggregated); everything after
    happens on ≤ 2ⁿ−1 coalition rows × a 32-row broadcast constant.
    More channels grow the constant table 2ⁿ — at n ≳ 20 switch to
    permutation-sampled Shapley (same journey table, sampled coalition
    chains).
    """
    events = load_table(spark, sf_dir, "events")
    bits = events.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.expr(_CH_BIT_CASE).alias("bit"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    journeys = bits.groupBy("user_id", "day").agg(
        F.expr("bit_or(bit)").alias("mask"),
        F.max("conv").alias("converted"),
    ).filter(F.col("mask") != 0).transform(eager_checkpoint)  # ≤15-coalition base
    # consumed by v AND the total; slim (user, day, mask, converted)
    v = journeys.groupBy("mask").agg(
        F.sum("converted").cast("long").alias("conv")
    )
    const = spark.createDataFrame(
        _shapley_const_rows(),
        "channel string, mask_with int, mask_without int, w double",
    )
    contrib = const.crossJoin(F.broadcast(v)).selectExpr(
        "channel", f"{_SHAPLEY_DELTA} AS term"
    )
    phi = contrib.groupBy("channel").agg(
        det_sum("term").alias("shapley_conversions")
    )
    tot = journeys.agg(
        F.sum("converted").cast("double").alias("total")
    )
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "shapley_conversions",
            (F.col("shapley_conversions") / F.col("total")).alias("share"),
        )
        .orderBy("channel")
    )


#: value-iteration depth: the statistic is DEFINED as the K-step
#: absorption probability — "P(convert within K touches)" — so
#: cross-engine parity never depends on convergence. Measured on the
#: sf0.1 chain: K=24 sits ~5e-7 from the fixed point (per-step
#: contraction ≈ 0.67); deeper K only buys digits the model's own
#: sampling noise dwarfs, at linear planner cost per step.
MARKOV_K = 24

_CHANNELS = SHAPLEY_CHANNELS  # ("click", "error", "signup", "view")
_SOURCES = ("start",) + _CHANNELS
_D0 = "CAST(0.0 AS DOUBLE)"


def _variants() -> list[tuple[str, str | None]]:
    return [("full", None)] + [(f"rm_{c}", c) for c in _CHANNELS]


def _markov_suffix() -> str:
    """The engine-shared analytical text: pivot `{trans}` (src, dst,
    cnt) to one matrix row, run MARKOV_K unrolled value-iteration
    steps for the full chain and each single-channel removal, emit one
    row per channel. Executed verbatim by Spark (over a temp view) and
    DuckDB (over a CTE) so every float is bit-identical.

    The solve is a linear chain of MARKOV_K projection CTEs, each
    carrying the 25 matrix columns forward and computing the step's 21
    value columns from the previous step's — no joins (a chain of
    1-row cross joins, the first cut, paid a broadcast stage per step:
    45 s) and no lateral column aliases (a single 525-alias projection,
    the second cut, hung Spark's analyzer). Catalyst keeps the chain
    as stacked Projects in one codegen pipeline: each value column is
    referenced up to five times by non-trivial expressions, so
    CollapseProject never inlines the recursion exponentially."""
    qcols = ",\n    ".join(
        f"coalesce(max(CASE WHEN src = '{s}' AND dst = '{d}' "
        f"THEN CAST(cnt AS DOUBLE) / out END), {_D0}) AS q_{s}_{d}"
        for s in _SOURCES
        for d in _CHANNELS + ("conv",)
    )
    qnames = ", ".join(
        f"q_{s}_{d}" for s in _SOURCES for d in _CHANNELS + ("conv",)
    )
    zeros = ",\n    ".join(
        f"{_D0} AS v0_{name}_{s}"
        for name, removed in _variants()
        for s in ("start",) + tuple(c for c in _CHANNELS if c != removed)
    )
    its = [f"it0 AS (SELECT *,\n    {zeros}\nFROM m)"]
    for k in range(1, MARKOV_K + 1):
        exprs = []
        for name, removed in _variants():
            kept = tuple(c for c in _CHANNELS if c != removed)
            for s in ("start",) + kept:
                terms = [f"q_{s}_conv"] + [
                    f"q_{s}_{t} * v{k - 1}_{name}_{t}" for t in kept
                ]
                exprs.append(" + ".join(terms) + f" AS v{k}_{name}_{s}")
        body = ",\n    ".join(exprs)
        its.append(
            f"it{k} AS (SELECT {qnames},\n    {body}\nFROM it{k - 1})"
        )
    its_sql = ",\n".join(its)
    K = MARKOV_K
    p_rm = (
        "CASE channel "
        + " ".join(
            f"WHEN '{c}' THEN v{K}_rm_{c}_start" for c in _CHANNELS
        )
        + " END"
    )
    effects = {
        c: (
            f"CASE WHEN v{K}_full_start > 0 THEN CAST(1.0 AS DOUBLE)"
            f" - v{K}_rm_{c}_start / v{K}_full_start ELSE {_D0} END"
        )
        for c in _CHANNELS
    }
    tot = " + ".join(f"({effects[c]})" for c in _CHANNELS)
    ch = " UNION ALL ".join(
        f"SELECT '{c}' AS channel" for c in _CHANNELS
    )
    return f"""
WITH m AS (
    SELECT
    {qcols}
    FROM (SELECT src, dst, cnt,
                 sum(cnt) OVER (PARTITION BY src) AS out
          FROM {{trans}}) t
),
{its_sql},
base AS (
    SELECT channel,
           v{K}_full_start AS p_conv,
           {p_rm} AS p_rm,
           {tot} AS tot
    FROM it{K} CROSS JOIN ({ch}) ch
)
SELECT channel,
       p_conv,
       p_rm AS p_conv_removed,
       CASE WHEN p_conv > 0 THEN CAST(1.0 AS DOUBLE) - p_rm / p_conv
            ELSE {_D0} END AS removal_effect,
       CASE WHEN tot > 0 THEN
           (CASE WHEN p_conv > 0 THEN CAST(1.0 AS DOUBLE) - p_rm / p_conv
                 ELSE {_D0} END) / tot
            ELSE {_D0} END AS share
FROM base ORDER BY channel
"""


_TYPES_IN = "('purchase', " + ", ".join(f"'{c}'" for c in _CHANNELS) + ")"

#: DuckDB prefix building the same (src, dst, cnt) relation the Spark
#: plan builds with windows: journeys keyed (user_id, day), ordered by
#: (ts, event_id), truncated at the first purchase (→ conv); a journey
#: with no purchase gets a trailing edge into the null absorber.
_TRANS_ORACLE = f"""
(
WITH ev AS (
    SELECT user_id, date_trunc('day', ts) AS day, ts, event_id,
           event_type
    FROM events WHERE event_type IN {_TYPES_IN}
),
numbered AS (
    SELECT *, row_number() OVER (PARTITION BY user_id, day
                                 ORDER BY ts, event_id) AS rn
    FROM ev
),
fp AS (
    SELECT user_id, day, min(rn) AS prn
    FROM numbered WHERE event_type = 'purchase' GROUP BY 1, 2
),
path AS (
    SELECT n.user_id, n.day, n.rn, f.prn,
           CASE WHEN n.event_type = 'purchase' THEN 'conv'
                ELSE n.event_type END AS st
    FROM numbered n LEFT JOIN fp f
      ON f.user_id = n.user_id AND f.day = n.day
    WHERE f.prn IS NULL OR n.rn <= f.prn
),
edges AS (
    SELECT coalesce(lag(st) OVER (PARTITION BY user_id, day
                                  ORDER BY rn), 'start') AS src,
           st AS dst
    FROM path
    UNION ALL
    SELECT st, 'null'
    FROM (SELECT st, rn, prn,
                 max(rn) OVER (PARTITION BY user_id, day) AS mx
          FROM path) q
    WHERE rn = mx AND prn IS NULL
)
SELECT src, dst, count(*) AS cnt FROM edges GROUP BY 1, 2
)
"""


def markov_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, cnt) journey-transition counts — the data-scale half
    of the attribution; see `_TRANS_ORACLE` for the exact contract."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.expr(f"event_type IN {_TYPES_IN}"))
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            "ts",
            "event_id",
            "event_type",
        )
    )
    # Single-pass journey fold: the former shape — row_number
    # window, first-purchase rollup, join-back, lag window + max window
    # union — derived the windowed path FOUR times (two windows, a join
    # probe and a union branch) over the same (user_id, day)
    # partitioning. One groupBy collects each journey's events, and the
    # truncation / conv-mapping / lag-edge / terminal-null logic folds
    # in-row over the sorted list — exactly one exchange of the events
    # frame, bit-identical edges (all integer/string ops; event_id
    # uniqueness makes the struct sort ≡ ORDER BY ts, event_id).
    grouped = ev.groupBy("user_id", "day").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    edges = (
        grouped.select(
            F.explode(
                F.expr(
                    """
            CASE WHEN array_position(
                     transform(evs, e -> e.event_type = 'purchase'), true
                   ) > 0
                 THEN transform(
                     sequence(1, CAST(array_position(
                         transform(evs, e -> e.event_type = 'purchase'),
                         true) AS INT)),
                     i -> struct(
                         CASE WHEN i = 1 THEN 'start'
                              WHEN element_at(evs, i - 1).event_type
                                   = 'purchase' THEN 'conv'
                              ELSE element_at(evs, i - 1).event_type
                         END AS src,
                         CASE WHEN element_at(evs, i).event_type
                                   = 'purchase' THEN 'conv'
                              ELSE element_at(evs, i).event_type
                         END AS dst))
                 ELSE concat(
                     transform(
                         sequence(1, size(evs)),
                         i -> struct(
                             CASE WHEN i = 1 THEN 'start'
                                  ELSE element_at(evs, i - 1).event_type
                             END AS src,
                             element_at(evs, i).event_type AS dst)),
                     array(struct(
                         element_at(evs, size(evs)).event_type AS src,
                         'null' AS dst)))
            END
            """
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    return edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q_markov_removal_attribution",
    oracle=_markov_suffix().format(trans=_TRANS_ORACLE),
    tags=("attribution", "markov", "marketing", "events"),
)
def q_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect conversion attribution: model journeys as
    a first-order chain START → channel → … → {CONV, NULL} and credit
    each channel by how much K-step conversion probability disappears
    when it is switched off (incoming transitions → NULL) — the
    Anderl et al. data-driven alternative to the catalog's decay
    heuristic and Shapley game. See the module docstring for the
    truncation contract and the bit-exact unrolled-value-iteration
    parity construction."""
    # ≤30-row counts table, materialized once so the solve never
    # re-scans events (the pivot + channel join read it repeatedly)
    markov_transition_counts(spark, sf_dir).transform(eager_checkpoint).createOrReplaceTempView("markov_trans_v")
    return spark.sql(_markov_suffix().format(trans="markov_trans_v"))
