"""Deterministic distributed rank / prefix-scan primitives.

An unpartitioned window (``row_number() OVER (ORDER BY ...)``,
``sum(x) OVER (ORDER BY ...)`` with no PARTITION BY) is correct but a
scale-killer: Spark plans it as ``Exchange SinglePartition`` +
``WindowExec`` with no partition spec, so ONE task sorts and scans the
entire frame. Fine at 60k rows; the bottleneck at 100 TB.

This module replaces that shape with an exactly-equivalent two-level
bucket scan — the classic distributed prefix-scan / zipWithIndex
decomposition, expressed as plain Catalyst plans (no RDDs, no UDFs):

1. the caller supplies a **deterministic, weakly-monotone bucket
   expression** over the leading sort key (e.g. ``floor(price)``,
   ``floor(log-ish transform)``, the Morton code itself). Monotone ⇒
   bucket order == value order, so global order decomposes into
   (bucket order, within-bucket order);
2. per-bucket totals aggregate map-side (one shuffle keyed on bucket);
3. buckets roll up into superbuckets (``bucket div sb_step``); the
   cross-superbucket carry is a *triangular broadcast join* over the
   superbucket frame (|SB| = |buckets| / sb_step — a few hundred rows
   even at 10^12 input rows, so the O(|SB|²) join is bounded);
4. the within-superbucket carry and the within-bucket scan are
   ordinary **partitioned** windows (``PARTITION BY superbucket`` /
   ``PARTITION BY bucket``) — every task sees at most one bucket's
   rows, never the whole frame.

All arithmetic here is over BIGINT counts/weights and ``row_number``
ranks, so results are **bit-identical** to the single-partition global
window they replace — the DuckDB oracles (which keep the readable
global-window SQL) stay green. Float weights would re-associate the
sum and are deliberately unsupported.

Determinism: no sampling (unlike ``repartitionByRange``, whose
boundaries come from a reservoir sample), no ``spark_partition_id``,
no ``monotonically_increasing_id`` — positions depend only on the data
and the bucket expression, so replays and resumed stages agree.

Bucket contract (enforced, ADVICE r07): a RAW bucket expression that
evaluates to NULL would silently DROP the row (the offset equi-join
never matches NULL keys) and a raw NaN would bucket to 0
(``CAST(NaN AS BIGINT)``) while Spark windows order NaN last — both
silent divergences from the global window being replaced. Every
helper therefore routes the bucket through a total CASE that maps
NULL → the minimum sentinel bucket (matching ASC ``NULLS FIRST``
window order) and NaN → the maximum sentinel bucket (Spark orders NaN
after every other double), so NULL/NaN sort keys reproduce the global
window bit-for-bit instead of corrupting results. (A ``raise_error``
guard was tried first and is NOT Catalyst-safe here: the bucket
column becomes an equi-join key, ``InferFiltersFromConstraints``
substitutes the CASE into upstream join conditions, and the error
branch then evaluates on rows the original filter would have
dropped.) Caveats the sentinels cannot cover — still the caller's
responsibility: a bucket expression that collapses NaN itself (e.g.
``floor(x)`` → 0) hides the NaN from the router; DESC orderings place
NULLs last while the NULL sentinel sorts first; and
:func:`with_next_key`'s min/lead chain still requires non-null keys.

tools/plan_audit.py enforces the policy side: its ``gwin`` column
counts unpartitioned Window nodes in every catalog plan, and
tests/test_global_window_audit.py pins the allowlist of queries whose
global windows run over provably bounded frames (calendar grids,
LITERAL-limited candidate lists, fixed bin counts).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

_BKT = "__drank_bkt"
_SB = "__drank_sb"

#: buckets per superbucket. 2^16 keeps the triangular superbucket join
#: trivially bounded: 10^12 rows at ~10^3 rows/bucket -> 10^9 buckets
#: -> ~15k superbuckets -> a 15k-row broadcast self-join.
DEFAULT_SB_STEP = 1 << 16

def _zero() -> Column:
    # built lazily: F.lit needs an active SparkContext at call time
    return F.lit(0).cast("long")


#: sentinel buckets for NULL/NaN bucket values (module header). ±2^62
#: keeps |bucket| / sb_step and neighbouring arithmetic overflow-free
#: while sitting far outside any data-derived bucket range.
NULL_BUCKET = -(1 << 62)
NAN_BUCKET = 1 << 62


def _checked_bucket(bucket: Column) -> Column:
    """Enforce the module's bucket contract (see header): route NULL
    bucket values to the minimum sentinel bucket (ASC windows order
    NULLS FIRST) and NaN to the maximum sentinel (Spark orders NaN
    last), instead of silently dropping/mis-bucketing the rows. The
    probe goes through a double cast (always valid for numerics; a
    non-numeric bucket casts to NULL and lands on the NULL sentinel).
    Total — no raise_error — so the expression stays safe when
    Catalyst substitutes it into upstream join conditions."""
    probe = bucket.cast("double")
    return (
        F.when(probe.isNull(), F.lit(NULL_BUCKET))
        .when(F.isnan(probe), F.lit(NAN_BUCKET))
        .otherwise(bucket.cast("long"))
    )


def _checked_bucket_for(df: DataFrame, bucket: Column) -> Column:
    """Type-aware :func:`_checked_bucket`: resolve the bucket
    expression's type against ``df`` (driver-side analysis only — no
    job) and emit the CHEAPEST guard the type actually demands. The
    full three-branch CASE duplicates the bucket expression across its
    probe and value branches, and on wide arithmetic bucket keys (the
    16-bit Morton interleave: ~32 shift/mask terms) that tripled
    per-row evaluation across every duplicated scan subtree — measured
    2.0× on q_zorder_layout_manifest at sf0.1 (4.5 s -> 2.3 s,
    SCALE.md). Routing is unchanged, only the guard shrinks:

    - float/double: NaN is representable -> full NULL+NaN CASE;
    - nullable everything-else (integral/decimal can't hold NaN):
      ``coalesce(cast, NULL_BUCKET)`` — one null probe, bucket
      evaluated once;
    - non-nullable non-float: the raw cast, no guard at all.
    """
    field = df.select(bucket.alias("__drank_probe")).schema.fields[0]
    if isinstance(field.dataType, (T.FloatType, T.DoubleType)):
        return _checked_bucket(bucket)
    if field.nullable:
        return F.coalesce(bucket.cast("long"), F.lit(NULL_BUCKET))
    return bucket.cast("long")


def _with_buckets(df: DataFrame, bucket: Column, sb_step: int) -> DataFrame:
    b = df.withColumn(_BKT, _checked_bucket_for(df, bucket))
    return b.withColumn(_SB, F.floor(F.col(_BKT) / F.lit(sb_step)).cast("long"))


def _superbucket_carry(
    sb_frame: DataFrame, cols: Sequence[str], *, agg: str = "sum",
    direction: str = "before", group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-superbucket carry: for each _SB row, ``agg`` of each column
    over STRICTLY smaller (``before``) / larger (``after``) _SB values
    within the same ``group_cols`` group (independent scans per group —
    used by the multi-spec ntile, where each spec is its own order).
    The triangular self-join is bounded by |SB|² per group (see module
    note). ``sum`` carries default 0; ``min`` carries default NULL."""
    a, b = sb_frame.alias("a"), sb_frame.alias("b")
    cmp = (
        F.col(f"b.{_SB}") < F.col(f"a.{_SB}")
        if direction == "before"
        else F.col(f"b.{_SB}") > F.col(f"a.{_SB}")
    )
    for g in group_cols:
        cmp = cmp & (F.col(f"b.{g}") == F.col(f"a.{g}"))
    fn = F.sum if agg == "sum" else F.min
    aggs = []
    for c in cols:
        e = fn(F.col(f"b.{c}"))
        if agg == "sum":
            e = F.coalesce(e, _zero())
        aggs.append(e.alias(f"__carry_{c}"))
    keys = [F.col(f"a.{g}").alias(g) for g in group_cols]
    keys.append(F.col(f"a.{_SB}").alias(_SB))
    return a.join(F.broadcast(b), cmp, "left").groupBy(*keys).agg(*aggs)


def _bucket_prefix_totals(
    bkt_frame: DataFrame,
    weight_cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """``bkt_frame``: one row per (group, bucket) carrying
    ``group_cols``, ``_SB``, ``_BKT`` and long-typed total-weight
    columns. Returns ``(*group_cols, _BKT, __off_<c>...)`` where
    ``__off_<c>`` = total of ``c`` over strictly earlier buckets of the
    same group."""
    gc = list(group_cols)
    sb_tot = bkt_frame.groupBy(*gc, _SB).agg(
        *[F.sum(c).alias(c) for c in weight_cols]
    )
    sb_off = _superbucket_carry(sb_tot, weight_cols, group_cols=gc)
    w = Window.partitionBy(*gc, _SB).orderBy(_BKT).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # NOTE: an explicit F.broadcast(sb_off) was A/B-tested
    # here and REJECTED — interleaved same-session runs on five
    # prefix-scan consumers were flat to slightly SLOWER (AQE already
    # converts this join at runtime when sb_off is small, and the
    # static hint only churned ~25 plan fingerprints). Left on the
    # default planner.
    joined = bkt_frame.join(sb_off, [*gc, _SB])
    sel = [F.col(c) for c in gc] + [F.col(_BKT)]
    for c in weight_cols:
        sel.append(
            (
                F.col(f"__carry_{c}")
                + F.coalesce(F.sum(c).over(w), _zero())
            ).alias(f"__off_{c}")
        )
    return joined.select(*sel)


def with_global_position(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    bucket: Column,
    *,
    pos_col: str = "pos",
    n_col: str | None = None,
    sb_step: int = DEFAULT_SB_STEP,
) -> DataFrame:
    """Distributed zipWithIndex: adds ``pos_col`` = the 0-based global
    position of each row under ``ORDER BY order_cols`` — bit-identical
    to ``row_number() OVER (ORDER BY order_cols) - 1`` — without a
    single-partition window.

    ``order_cols`` must be a TOTAL order (include a unique tiebreak
    column) for positions to be deterministic. ``bucket`` must be a
    deterministic weakly-monotone function of the leading sort key
    (ascending): v1 < v2 ⟹ bucket(v1) <= bucket(v2).

    ``n_col``: optionally attach the TOTAL row count as a broadcast
    column of that name — derived from the tiny per-bucket rollup
    inside the same job, so callers don't pay a SEPARATE ``df.agg``
    action for it. Callers whose ``df`` is expensive to rebuild
    should materialize it first (``.transform(eager_checkpoint)``) —
    the helper reads ``df`` twice (rollup + position join).
    """
    b = _with_buckets(df, bucket, sb_step)
    cnt = "__drank_cnt"
    bkt_tot = b.groupBy(_SB, _BKT).agg(F.count(F.lit(1)).alias(cnt))
    offs = _bucket_prefix_totals(bkt_tot, [cnt])
    rn = F.row_number().over(Window.partitionBy(_BKT).orderBy(*order_cols))
    out = (
        b.join(offs, _BKT)
        .withColumn(pos_col, (F.col(f"__off_{cnt}") + rn - F.lit(1)).cast("long"))
        .drop(_BKT, _SB, f"__off_{cnt}")
    )
    if n_col is not None:
        n_tot = bkt_tot.groupBy().agg(F.sum(cnt).cast("long").alias(n_col))
        out = out.crossJoin(F.broadcast(n_tot))
    return out


def select_global_ranks(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    bucket: Column,
    targets: Callable[[DataFrame], DataFrame],
    *,
    rank_col: str = "__drank_k",
    pos_col: str = "pos",
    n_col: str | None = None,
    prefix: bool = False,
    sb_step: int = DEFAULT_SB_STEP,
) -> DataFrame:
    """Rows of ``df`` at chosen 0-based global rank positions under
    ``ORDER BY order_cols`` — bit-identical to computing
    :func:`with_global_position` and filtering ``pos_col`` to the
    target set, but only the BUCKETS that contain a target rank pay
    the position exchange+sort: every other bucket is dropped by a
    broadcast semi-join straight after the (map-side partial) bucket
    rollup. For selection-style consumers — medians, quantile grids,
    conformal q̂ — the full-frame position join is the dominant
    shuffle, and this prunes it to a handful of bucket-sized
    partitions (guide §2.3/§2.4: shuffle only the bytes the answer
    needs).

    ``targets``: callable receiving a ONE-ROW DataFrame with BIGINT
    column ``n`` (the total row count, free from the rollup) and
    returning a SMALL DataFrame with BIGINT column ``rank_col`` of
    target positions; extra columns (e.g. a quantile grid's ``q``)
    ride through to the output. Target ranks outside ``[0, n)`` simply
    match nothing (same as the filter they replace). Column names in
    the targets frame must not collide with ``df``'s.

    ``prefix=True`` switches the match from ``pos == k`` to
    ``pos < k`` (top-``k`` prefix consumers): kept buckets are those
    whose offset lies below some target ``k``, and each surviving row
    joins every target with ``pos < k``.

    Output: ``df``'s columns + ``pos_col`` + the targets frame's
    columns (+ ``n_col`` if requested). Like the position helper, df
    is read twice (rollup + pruned position pass) — materialize
    expensive inputs first.

    When to use (measured): the pruning pays when the frame
    is pair-scale (millions of rows, e.g. the Hodges-Lehmann 5.8M-row
    diff frame: −40% interleaved) AND cheap to re-derive. For frames
    of ~60k-600k skinny rows the full position exchange+sort is
    cheaper than this helper's extra broadcast stages (+35-45% on
    q_doc_length_order_stats / q_ppl_filter_retention_curve /
    q_vocab_coverage_curve), and for an expensive LAZY input the
    second derivation dominates (+15% on the Theil-Sen pair join) —
    those callers keep :func:`with_global_position`."""
    from cost_of_living_data_etl_spark.functions.checkpoints import (
        eager_checkpoint,
    )

    b = _with_buckets(df, bucket, sb_step)
    cnt = "__drank_cnt"
    # The rollup is one row per bucket — tiny — but FOUR branches read
    # it (offsets, extents, total count, and the caller's targets).
    # Materialized so a lazily-derived expensive `df` (e.g. a pair
    # join) is scanned exactly twice (rollup + pruned pass), not once
    # per broadcast chain: measured +30% on the Theil-Sen pair frame
    # without this, ~flat with it.
    bkt_tot = (
        b.groupBy(_SB, _BKT)
        .agg(F.count(F.lit(1)).alias(cnt))
        .transform(eager_checkpoint)
    )
    offs = _bucket_prefix_totals(bkt_tot, [cnt])
    off = F.col(f"__off_{cnt}")
    ext = bkt_tot.select(_BKT, cnt).join(offs, _BKT)
    n_df = bkt_tot.groupBy().agg(F.sum(cnt).cast("long").alias("n"))
    tgt = targets(n_df)
    if prefix:
        bucket_cond = off < F.col(rank_col)
        row_cond = F.col(pos_col) < F.col(rank_col)
    else:
        bucket_cond = (F.col(rank_col) >= off) & (
            F.col(rank_col) < off + F.col(cnt)
        )
        row_cond = F.col(pos_col) == F.col(rank_col)
    hit = ext.join(
        F.broadcast(tgt.select(rank_col)), bucket_cond, "left_semi"
    ).select(_BKT)
    rn = F.row_number().over(Window.partitionBy(_BKT).orderBy(*order_cols))
    out = (
        b.join(F.broadcast(hit), _BKT, "left_semi")
        .join(F.broadcast(offs), _BKT)
        .withColumn(pos_col, (off + rn - F.lit(1)).cast("long"))
        .join(F.broadcast(tgt), row_cond)
        .drop(_BKT, _SB, f"__off_{cnt}")
    )
    if n_col is not None:
        out = out.crossJoin(F.broadcast(n_df.withColumnRenamed("n", n_col)))
    return out


def with_prefix_sums(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    bucket: Column,
    weights: dict[str, str],
    *,
    sb_step: int = DEFAULT_SB_STEP,
) -> DataFrame:
    """Exclusive running sums: for each ``src -> out`` in ``weights``,
    adds ``out`` = sum of ``src`` over all rows STRICTLY BEFORE the
    current row in ``ORDER BY order_cols`` (0 for the first row) —
    bit-identical to ``sum(src) OVER (ORDER BY ... ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` with ``coalesce(..., 0)``.

    Weights must be integral (BIGINT-safe): integer prefix sums are
    association-free, which is what makes the decomposition exact.
    ``df`` must have ONE row per distinct ``order_cols`` key (the
    usual distinct-value rollup) so "strictly before" is unambiguous;
    inclusive scans are just ``out + src`` on the caller's side.
    """
    b = _with_buckets(df, bucket, sb_step)
    srcs = list(weights)
    bkt_tot = b.groupBy(_SB, _BKT).agg(*[F.sum(c).alias(c) for c in srcs])
    offs = _bucket_prefix_totals(bkt_tot, srcs)
    wb = Window.partitionBy(_BKT).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    out = b.join(offs, _BKT)
    for src, dst in weights.items():
        out = out.withColumn(
            dst,
            F.col(f"__off_{src}") + F.coalesce(F.sum(src).over(wb), _zero()),
        )
    return out.drop(_BKT, _SB, *[f"__off_{c}" for c in srcs])


def with_global_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: Sequence[str | Column],
    bucket: Column,
    *,
    out_col: str = "tile",
    sb_step: int = DEFAULT_SB_STEP,
) -> DataFrame:
    """Exact distributed ``ntile(n) OVER (ORDER BY order_cols)``:
    positions from :func:`with_global_position`, then the closed-form
    ntile split (the first ``n mod n_tiles`` tiles hold ``⌈n/n_tiles⌉``
    rows, the rest ``⌊n/n_tiles⌋``) — bit-identical to the single-task
    window ntile. The total count comes free from the position
    helper's per-bucket rollup (``n_col``) — no extra scan of df."""
    pos = with_global_position(
        df,
        order_cols,
        bucket,
        pos_col="__ntile_pos",
        n_col="__ntile_n",
        sb_step=sb_step,
    )
    tile = _ntile_expr("__ntile_pos", "__ntile_n", n_tiles)
    return pos.withColumn(out_col, tile).drop("__ntile_pos", "__ntile_n")


def _ntile_expr(pos_col: str, n_col: str, n_tiles: int) -> Column:
    """Closed-form SQL-standard ntile from a 0-based global position
    and the total count: the first ``n mod k`` tiles hold ``⌈n/k⌉``
    rows, the rest ``⌊n/k⌋`` — bit-identical to window ntile."""
    return F.expr(
        f"CAST(CASE WHEN {pos_col} < ({n_col} DIV {n_tiles} + 1)"
        f" * ({n_col} % {n_tiles})"
        f" THEN {pos_col} DIV ({n_col} DIV {n_tiles} + 1) + 1"
        f" ELSE {n_col} % {n_tiles}"
        f"  + ({pos_col} - ({n_col} DIV {n_tiles} + 1)"
        f"     * ({n_col} % {n_tiles})) DIV ({n_col} DIV {n_tiles}) + 1"
        f" END AS INT)"
    )


def with_global_ntiles(
    df: DataFrame,
    n_tiles: int,
    specs: Sequence[tuple[Sequence[str | Column], Column, str]],
    key_cols: Sequence[str],
    *,
    sb_step: int = DEFAULT_SB_STEP,
) -> DataFrame:
    """Several exact global ntiles over the SAME frame in ONE shared
    pass — the amortized form of calling :func:`with_global_ntile` k
    times (e.g. RFM's three quartile codes over one per-customer
    rollup).

    ``specs``: ``(sort_cols, bucket, out_col)`` per requested ntile.
    ``sort_cols`` are ASCENDING sort expressions forming a TOTAL order
    (negate a column for DESC; include a unique tiebreak); ``bucket``
    follows the module's monotone-bucket contract for that ordering.
    ``key_cols`` must be a unique row key of ``df`` (the frame is
    melted k-ways and folded back on this key).

    Instead of k sequential (rollup + carry + window) pipelines — each
    ~4-5 exchanges over the full frame — the frame is exploded into
    k·n narrow rows tagged with a spec id, and ONE bucket rollup, ONE
    spec-grouped superbucket carry, and ONE partitioned window serve
    all k orderings; a final groupBy on ``key_cols`` folds the k tile
    codes back onto the row. ~3 wide shuffles total instead of ~4-5·k.

    Caveat: sort expressions at the same position are coerced to a
    common type across specs (Spark's array-of-struct typing). Mixing
    integral and floating sort keys at one position coerces to DOUBLE
    — exact only below 2^53; keep a position all-integral (e.g. the
    tiebreak key) or use separate :func:`with_global_ntile` calls if a
    key needs full 64-bit precision.

    Results are bit-identical to k independent global window ntiles;
    every row of ``df`` appears exactly once in the output (columns:
    ``key_cols``, the remaining ``df`` columns, then one tile column
    per spec).
    """
    _SPEC = "__drank_spec"
    arity = max(len(s[0]) for s in specs)
    kcols = [f"__drank_k{j}" for j in range(arity)]
    structs = []
    for i, (sort_cols, bucket, _out) in enumerate(specs):
        ks = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
        ks += [F.lit(0)] * (arity - len(ks))
        structs.append(
            F.struct(
                F.lit(i).alias(_SPEC),
                _checked_bucket_for(df, bucket).alias(_BKT),
                *[k.alias(kc) for k, kc in zip(ks, kcols)],
            )
        )
    melted = (
        df.withColumn("__drank_m", F.explode(F.array(*structs)))
        .select("*", "__drank_m.*")
        .drop("__drank_m")
        .withColumn(_SB, F.floor(F.col(_BKT) / F.lit(sb_step)).cast("long"))
    )
    cnt = "__drank_cnt"
    bkt_tot = melted.groupBy(_SPEC, _SB, _BKT).agg(
        F.count(F.lit(1)).alias(cnt)
    )
    offs = _bucket_prefix_totals(bkt_tot, [cnt], group_cols=[_SPEC])
    # every spec covers the full frame, so n is shared: read it off one
    # spec's rollup (no extra scan of df)
    n_tot = (
        bkt_tot.filter(F.col(_SPEC) == 0)
        .groupBy()
        .agg(F.sum(cnt).cast("long").alias("__ntile_n"))
    )
    rn = F.row_number().over(
        Window.partitionBy(_SPEC, _BKT).orderBy(*kcols)
    )
    scored = (
        melted.join(offs, [_SPEC, _BKT])
        .withColumn(
            "__ntile_pos",
            (F.col(f"__off_{cnt}") + rn - F.lit(1)).cast("long"),
        )
        .crossJoin(F.broadcast(n_tot))
        .withColumn("__drank_tile", _ntile_expr("__ntile_pos", "__ntile_n", n_tiles))
    )
    payload = [c for c in df.columns if c not in set(key_cols)]
    aggs = [F.first(c).alias(c) for c in payload]
    aggs += [
        F.max(F.when(F.col(_SPEC) == i, F.col("__drank_tile"))).alias(out)
        for i, (_s, _b, out) in enumerate(specs)
    ]
    return scored.groupBy(*key_cols).agg(*aggs)


def with_next_key(
    df: DataFrame,
    key_col: str,
    bucket: Column,
    *,
    out_col: str,
    sb_step: int = DEFAULT_SB_STEP,
) -> DataFrame:
    """Distributed ``lead(key) OVER (ORDER BY key)``: adds ``out_col``
    = the next larger distinct key (NULL for the global maximum).
    ``df`` must have one row per distinct ``key_col``. The within-
    bucket lead is a partitioned window; the bucket-boundary carry is
    a hierarchical suffix-min (min of later buckets' first keys within
    the superbucket + min over later superbuckets via the triangular
    join)."""
    b = _with_buckets(df, bucket, sb_step)
    kmin = "__drank_kmin"
    bkt_first = b.groupBy(_SB, _BKT).agg(F.min(key_col).alias(kmin))
    sb_first = bkt_first.groupBy(_SB).agg(F.min(kmin).alias(kmin))
    sb_after = _superbucket_carry(
        sb_first, [kmin], agg="min", direction="after"
    )
    # min of first keys over LARGER buckets in the same superbucket
    wafter = (
        Window.partitionBy(_SB)
        .orderBy(F.col(_BKT).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = (
        bkt_first.join(sb_after, _SB)
        .select(
            _BKT,
            F.least(
                F.min(kmin).over(wafter), F.col(f"__carry_{kmin}")
            ).alias("__drank_next_first"),
        )
    )
    lead_in = F.lead(key_col).over(Window.partitionBy(_BKT).orderBy(key_col))
    return (
        b.join(nxt, _BKT)
        .withColumn(out_col, F.coalesce(lead_in, F.col("__drank_next_first")))
        .drop(_BKT, _SB, "__drank_next_first")
    )
