"""--changed-only benching rests on fingerprint semantics: same query
=> same fingerprint (within and across builds of the plan), different
query => different fingerprint, and cache state must NOT leak in (the
physical-plan version re-ran ~30% of an unchanged catalog because
InMemoryRelation appeared wherever a shared intermediate happened to
be cached)."""

from __future__ import annotations

from bench import _fingerprint
from cost_of_living_data_etl_spark.functions.checkpoints import (
    eager_checkpoint,
    plan_only_pass,
)
from cost_of_living_data_etl_spark.plans import catalog
from conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


def test_fingerprint_is_stable_across_rebuilds(spark):
    cat = catalog()
    for name in ["q1_pricing_summary", "q_dedup_exact_groups"]:
        a = _fingerprint(cat[name].fn(spark, SF))
        b = _fingerprint(cat[name].fn(spark, SF))
        assert a == b, name


def test_fingerprint_distinguishes_queries(spark):
    cat = catalog()
    fps = {
        name: _fingerprint(cat[name].fn(spark, SF))
        for name in ["q1_pricing_summary", "q4_order_priority", "q_distinct_counts"]
    }
    assert len(set(fps.values())) == len(fps), fps


def test_fingerprint_ignores_cache_state(spark):
    """Fingerprint before caching == after caching == after uncache:
    the analyzed plan is pre-cache-substitution by design."""
    cat = catalog()
    fn = cat["q_text_quality_by_source"].fn
    before = _fingerprint(fn(spark, SF))
    df = fn(spark, SF)
    df.persist()
    df.count()
    cached = _fingerprint(fn(spark, SF))
    df.unpersist()
    spark.catalog.clearCache()
    after = _fingerprint(fn(spark, SF))
    assert before == cached == after


def test_fingerprint_identical_in_plan_only_mode(spark):
    """The --changed-only selection pass builds plans inside
    ``plan_only_pass`` (eager localCheckpoints degrade to lazy so no
    data-scale job runs before the timed loop). The fingerprint must be
    IDENTICAL in both modes — lazy and eager checkpoints produce the
    same analyzed LogicalRDD node — or selection would re-run every
    checkpoint-bearing query forever."""
    cat = catalog()
    # a checkpoint-bearing builder (winnowing fingerprint table), the
    # three until_settled loops (connected components, k-core peeling,
    # pointer doubling) and a plain one
    for name in [
        "q_winnowing_overlap_pairs",
        "q_dedup_clusters",
        "q_kcore_dup_graph",
        "q_hierarchy_rollup",
        "q1_pricing_summary",
    ]:
        with plan_only_pass(spark):
            lazy_fp = _fingerprint(cat[name].fn(spark, SF), cat[name].fn)
        eager_fp = _fingerprint(cat[name].fn(spark, SF), cat[name].fn)
        assert lazy_fp == eager_fp, name


def test_plan_only_mode_skips_checkpoint_jobs(spark):
    """Inside ``plan_only_pass``, building a checkpoint-bearing plan
    must not run the checkpoint's Spark job: the lazy checkpoint defers
    materialization to the first action. On exit AQE reads its prior
    value and ``eager_checkpoint`` runs its job at build time again."""
    import pyspark.sql.functions as F

    tracker = spark.sparkContext.statusTracker()
    base = spark.range(1000).select("id", (F.col("id") % 7).alias("g"))

    def jobs() -> int:
        return len(tracker.getJobIdsForGroup() or [])

    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    with plan_only_pass(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        jobs_before = jobs()
        lazy_df = base.groupBy("g").count().transform(eager_checkpoint)
        assert jobs() == jobs_before, "plan-only build ran a Spark job"
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_prev
    # the deferred checkpoint still materializes and computes correctly
    # once AQE is back on
    assert lazy_df.count() == 7
    jobs_before = jobs()
    base.groupBy("g").count().transform(eager_checkpoint)
    assert jobs() > jobs_before, "eager_checkpoint stayed lazy after the pass"
