"""Engine execution profiles: oracle-parity vs production guards.

The skew/scale guards live where each was proven; one switch selects
them all:

- ``lsh_max_bucket`` — MinHash-LSH band buckets larger than the cap
  are dropped BEFORE the b² self-join (``operators/dedup.py::
  neardup_pairs_from_sigs``; hostile 50k-doc proof: 12.5M boilerplate
  pairs → 10 organic, SCALE.md "Hostile-skew proof").
- ``setsim_max_prefix_df`` — PPJoin prefix tokens with document
  frequency above the cap never generate candidates
  (``plans/structural.py::setsim_pairs``; surviving pairs still verify
  exactly on the full shingle sets).
- ``exact_pairs_max_rows`` — the O(n²) validation baselines refuse to
  plan above this many input rows (``operators/similarity.py``,
  ``plans/mining.py``).
- ``approx_distinct`` — data-profiling passes swap exact
  ``count_distinct`` (Expand strategy: |cols|× row expansion) for
  one-pass HLL ``approx_count_distinct`` (±~2%, which the profiling
  consumer tolerates).

``PARITY`` (the default) keeps every guard lossless/off so results
replay bit-identically in the DuckDB oracles — correctness runs and
the driver never set a profile. ``PRODUCTION`` turns every guard on
with documented defaults. Select with ``SPARK_GRAFT_PROFILE=production``
(env) — one switch, all guards — or pass explicit per-call arguments,
which always win over the profile.

The production caps are corpus-tunable and share ONE rationale — a
key (band bucket / prefix token) matching d rows generates up to d²
candidate pairs, so d is capped where d² stops being a reasonable
per-key task: ``lsh_max_bucket=1000`` bounds any band bucket to
≤ ~500k candidate pairs, and ``setsim_max_prefix_df=1000`` bounds any
prefix token's contribution identically (measured on the 50k-doc
hostile corpus: the 5k-doc boilerplate family emits 12.5M pairs
lossless, 10 organic pairs under the profile — SCALE.md). The
hostile-fixture unit proofs use 50 because that fixture's organic
families are ≤ 4 docs. Recall loss is confined to near-dup families
built entirely from df-heavy tokens — boilerplate that exact dedup
catches upstream; organic pairs keep at least one rare prefix token
and survive.

Plans are IDENTICAL between profiles except inside the guard subtrees
(pinned by tests/test_profiles.py): parity resolves every knob to the
lossless value, so a parity-profile plan is byte-for-byte the
no-profile plan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

PROFILE_ENV = "SPARK_GRAFT_PROFILE"

#: sentinel default for guard keyword arguments: "resolve from the
#: active profile". Explicit caller values (including None = lossless)
#: always override the profile.
USE_PROFILE = object()


@dataclass(frozen=True)
class Profile:
    name: str
    #: MinHash-LSH band-bucket cap (None = lossless, oracle parity)
    lsh_max_bucket: int | None
    #: PPJoin prefix document-frequency cap (None = lossless)
    setsim_max_prefix_df: int | None
    #: O(n²) validation-baseline refusal threshold (input rows)
    exact_pairs_max_rows: int
    #: swap exact count_distinct for approx_count_distinct in profiling
    approx_distinct: bool


PARITY = Profile(
    name="parity",
    lsh_max_bucket=None,
    setsim_max_prefix_df=None,
    exact_pairs_max_rows=100_000,
    approx_distinct=False,
)

PRODUCTION = Profile(
    name="production",
    lsh_max_bucket=1000,
    setsim_max_prefix_df=1000,
    exact_pairs_max_rows=100_000,
    approx_distinct=True,
)

_PROFILES = {p.name: p for p in (PARITY, PRODUCTION)}


def active_profile() -> Profile:
    """The profile selected by ``SPARK_GRAFT_PROFILE`` (default parity).
    Unknown names fail loudly — a typo must not silently run lossless
    guards in production (or vice versa)."""
    name = os.environ.get(PROFILE_ENV, PARITY.name)
    try:
        return _PROFILES[name]
    except KeyError:
        raise ValueError(
            f"unknown {PROFILE_ENV}={name!r}; expected one of "
            f"{sorted(_PROFILES)}"
        ) from None


def resolve(value, field: str):
    """Guard-argument resolution: the sentinel means "ask the active
    profile"; anything else (including None) is an explicit caller
    decision and wins."""
    if value is USE_PROFILE:
        return getattr(active_profile(), field)
    return value
