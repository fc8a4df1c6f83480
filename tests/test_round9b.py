"""Semantic tests for the round-9 lakehouse table-ops queries:
closed-form fixtures and the design-claim properties the oracle hash
gate cannot see (both-engines-agree-on-wrong class — the round-6
winnowing lesson). The version manifest's ORDER-INSENSITIVITY and
single-row SENSITIVITY are its entire value proposition, so both are
pinned directly."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from cost_of_living_data_etl_spark.plans.layout import (
    COMPACT_TARGET_CHARS,
    DELETE_COHORT_PCT,
    VERSION_PARTS,
    q_compaction_plan_manifest,
    q_dataset_version_manifest,
    q_delete_cascade_audit,
    q_zorder_incremental_rewrite,
    zorder_files,
)


def _write_orders(spark, path, rows, *, shuffle_partitions=1):
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).repartition(shuffle_partitions).write.mode("overwrite").parquet(
        f"{path}/orders.parquet"
    )


def _order(k, price, day, cust=1, status="O", prio="1-URGENT"):
    import datetime

    return (
        k,
        cust,
        status,
        float(price),
        datetime.datetime(1995, 1, day),
        prio,
    )


# ------------------------------------------------- dataset version manifest


def _manifest_rows(spark, sf_dir):
    return {
        r["part_id"]: (r["n_rows"], r["fp_lo"], r["fp_hi"])
        for r in q_dataset_version_manifest(spark, sf_dir).collect()
    }


def test_version_manifest_is_order_and_layout_insensitive(spark, tmp_path):
    """The SAME rows written in a different order and file layout must
    fingerprint identically — that is what makes the manifest a
    cross-cluster/cross-run reproducibility check."""
    rows = [_order(k, 100.0 + k, 1 + k % 28) for k in range(200)]
    a, b = f"{tmp_path}/a", f"{tmp_path}/b"
    _write_orders(spark, a, rows, shuffle_partitions=1)
    _write_orders(spark, b, list(reversed(rows)), shuffle_partitions=7)
    assert _manifest_rows(spark, a) == _manifest_rows(spark, b)


def test_version_manifest_pinpoints_a_single_changed_row(spark, tmp_path):
    """Flipping ONE row's price by a cent must change exactly the one
    partition holding that row — same row counts everywhere else,
    identical fingerprints everywhere else."""
    rows = [_order(k, 100.0 + k, 1 + k % 28) for k in range(200)]
    changed = [
        _order(k, 100.0 + k + (0.01 if k == 57 else 0.0), 1 + k % 28)
        for k in range(200)
    ]
    a, b = f"{tmp_path}/a", f"{tmp_path}/b"
    _write_orders(spark, a, rows)
    _write_orders(spark, b, changed)
    ma, mb = _manifest_rows(spark, a), _manifest_rows(spark, b)
    diff = {p for p in ma if ma[p] != mb[p]}
    assert diff == {57 % VERSION_PARTS}
    p = 57 % VERSION_PARTS
    assert ma[p][0] == mb[p][0]  # row count unchanged — content moved


# ------------------------------------------------- compaction plan


def test_compaction_groups_are_contiguous_and_conserve_mass(spark, sf_smoke):
    rows = q_compaction_plan_manifest(spark, sf_smoke).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    totals = {
        r["source"]: (r["n"], r["chars"])
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
        )
        .collect()
    }
    for source, groups in by_source.items():
        groups.sort(key=lambda r: r["merge_group"])
        # conservation: every doc and char lands in exactly one group
        assert sum(g["n_docs"] for g in groups) == totals[source][0]
        assert sum(g["chars_total"] for g in groups) == totals[source][1]
        # contiguity: batch ranges never interleave across groups
        for prev, nxt in zip(groups, groups[1:]):
            assert nxt["batch_min"] > prev["batch_max"]


def test_compaction_closed_form_group_split(spark, tmp_path):
    """Files of 15k chars against a 20k target: cum_before 0/15k/30k
    -> merge groups 0, 0, 1 (a group closes once the files BEFORE the
    current one reach the target)."""
    assert COMPACT_TARGET_CHARS == 20_000  # the arithmetic below
    rows = [
        (b, "x" * 10, "en", "S", 15_000) for b in range(3)
    ]  # doc_id==batch_id for COMPACT_BATCHES>=3
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["merge_group"]: (r["n_files"], r["chars_total"])
        for r in q_compaction_plan_manifest(spark, str(tmp_path)).collect()
    }
    assert got == {0: (2, 30_000), 1: (1, 15_000)}


# ------------------------------------------------- delete cascade audit


def _bucket(key: int) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16) % 100


def test_delete_cascade_counts_zero_order_customers(spark, tmp_path):
    """A cohort customer with NO orders must still count in its
    segment's cohort size (LEFT join semantics), with zero cascade."""
    in_cohort = [k for k in range(1, 500) if _bucket(k) < DELETE_COHORT_PCT]
    out_of_cohort = [k for k in range(1, 500) if _bucket(k) >= DELETE_COHORT_PCT]
    c_with_orders, c_without = in_cohort[0], in_cohort[1]
    spark.createDataFrame(
        [
            (c_with_orders, "SEG_A"),
            (c_without, "SEG_B"),
            (out_of_cohort[0], "SEG_A"),
        ],
        "c_custkey long, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    _write_orders(
        spark,
        tmp_path,
        [
            _order(10, 100.0, 1, cust=c_with_orders),
            _order(11, 50.0, 2, cust=c_with_orders),
            _order(12, 70.0, 3, cust=out_of_cohort[0]),  # not in cohort
        ],
    )
    spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1)],
        "l_orderkey long, l_linenumber long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        r["c_mktsegment"]: (
            r["n_customers"],
            r["n_orders"],
            r["n_lineitems"],
            r["revenue_cents"],
        )
        for r in q_delete_cascade_audit(spark, str(tmp_path)).collect()
    }
    assert got == {
        "SEG_A": (1, 2, 3, 15_000),  # 100.00 + 50.00 in cents
        "SEG_B": (1, 0, 0, 0),  # counted, nothing to purge
    }


# ------------------------------------------------- incremental zorder


def test_incremental_rewrite_set_is_consistent_with_the_manifest(
    spark, sf_smoke
):
    """Every planned rewrite references a real base-manifest file and
    carries that file's exact row count; the new-point mass never
    exceeds the append batch."""
    from cost_of_living_data_etl_spark.plans.layout import _APPEND_SPARK

    plan = {
        r["file_id"]: (r["n_rows"], r["n_new_points"])
        for r in q_zorder_incremental_rewrite(spark, sf_smoke).collect()
    }
    full = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    base = full.filter(~F.expr(_APPEND_SPARK))
    manifest = {
        r["file_id"]: r["n_rows"]
        for r in zorder_files(base, bounds_from=full).collect()
    }
    n_append = full.filter(F.expr(_APPEND_SPARK)).count()
    assert plan and set(plan) <= set(manifest)
    for fid, (n_rows, n_new) in plan.items():
        assert n_rows == manifest[fid]
        # a planned rewrite always has at least one new point landing
        # in it, and never more than the whole append batch (a single
        # file's rectangle counts each append point at most once)
        assert 1 <= n_new <= n_append
