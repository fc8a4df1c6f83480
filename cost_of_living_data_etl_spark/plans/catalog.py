"""Query catalog registry.

Every capability the engine claims (SURVEY.md §2 + the north-star
extension operators) is registered here as a named query:

- a Spark builder ``fn(spark, sf_dir) -> DataFrame`` (lazy logical plan)
- an optional DuckDB oracle SQL string with IDENTICAL output column
  names — the driver hash-compares both at sf0.01. ``oracle=None``
  marks genuinely non-SQL-expressible ops (streaming state, LSH
  internals); those get a weaker rows-only check.

``__spark_entry__.py`` exposes this catalog to the driver verbatim.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

#: Queries allowed to return ZERO rows on the verification fixtures.
#: Everything else must produce output at every tested SF: the hash
#: gate is blind to a query that degenerates to empty on BOTH engines
#: (a winnowing miner that returns zero rows on every corpus passes
#: every oracle comparison). Consumed by tests/test_catalog_oracle.py and
#: tools/census.py. q22: the fixtures hold no dormant high-balance
#: customer until sf0.1 (verified directly against the parquet), so
#: its emptiness is a data property, not a plan defect.
EMPTY_OK: frozenset[str] = frozenset({"q22_dormant_high_balance"})


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query builder to the catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


def catalog() -> dict[str, QuerySpec]:
    """All registered queries (importing plans.* triggers registration)."""
    # Import side-effect modules lazily to avoid circular imports.
    from cost_of_living_data_etl_spark.plans import all_queries  # noqa: F401

    return dict(_REGISTRY)
