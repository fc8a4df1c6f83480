"""The skew guards are plain per-call arguments whose defaults are
lossless, and the package has no environment switch that changes what a
query computes."""

from __future__ import annotations

import inspect
import re
from pathlib import Path

from cost_of_living_data_etl_spark.operators.dedup import (
    lsh_candidates,
    minhash_pair_plan,
    neardup_pairs_from_sigs,
)
from cost_of_living_data_etl_spark.plans import catalog
from cost_of_living_data_etl_spark.plans.structural import setsim_pairs
from cost_of_living_data_etl_spark.streaming.dedup import (
    dedup_ingest_sink,
    ingest_dedup_batch,
)

PACKAGE = Path(__file__).resolve().parent.parent / "cost_of_living_data_etl_spark"

GUARDED = [
    (lsh_candidates, "max_bucket"),
    (neardup_pairs_from_sigs, "max_bucket"),
    (minhash_pair_plan, "max_bucket"),
    (ingest_dedup_batch, "max_bucket"),
    (dedup_ingest_sink, "max_bucket"),
    (setsim_pairs, "max_prefix_df"),
]


def test_guard_defaults_are_lossless(spark, sf_smoke):
    """Every guard defaults to None, so the catalog's plans carry no
    band-bucket size window and no prefix document-frequency filter."""
    for fn, arg in GUARDED:
        assert inspect.signature(fn).parameters[arg].default is None, fn.__name__
    for name in ("q_dedup_minhash_lsh", "q_setsim_prefix_join"):
        df = catalog()[name].fn(spark, sf_smoke)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "__bsz" not in plan, name
        assert not re.search(r"\bdf#\d+L? <=", plan), name


def test_no_environment_switches_in_the_package():
    """Only the session factory (CPUs, driver memory), the app's
    ``AppConfig.from_env`` and the vendored-protobuf ``PYTHONPATH``
    read the environment; nothing else may switch behaviour on it."""
    allowed = {
        PACKAGE / "session.py",
        PACKAGE / "app.py",
        PACKAGE / "vendor" / "__init__.py",
    }
    pattern = re.compile(r"os\.environ|getenv")
    offenders = [
        f"{p.relative_to(PACKAGE)}:{n}"
        for p in PACKAGE.rglob("*.py")
        if p not in allowed
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders
