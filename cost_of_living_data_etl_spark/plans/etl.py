"""The cost-of-living ETL pipeline, Spark-first.

Reference parity map (all citations into the reference's app.py):

- ``transform_living_wage``   ≡ transform_living_wage_df       (app.py:33-58)
- ``transform_annual_expense``≡ transform_annual_expense_df    (app.py:61-85)
- ``transform_typical_salary``≡ transform_typical_annual_salary_df (app.py:88-103)
- ``run_pipeline``            ≡ main                           (app.py:106-199)

Differences by design:
- every transform is one projection of native column expressions (no
  Python row lambdas — the reference's three ``Series.apply`` calls
  become regexp_replace/concat/cast, C2/C3);
- the snapshot date is injectable (``as_of``) instead of
  ``date.today()`` (app.py:57,84,101) so runs and goldens are
  deterministic;
- the dimension joins are one key lookup: like the reference, which
  fetches both dims into memory once per run (app.py:140,143), the
  filtered dims are collected once (``dim_keys``) — dim_location is a
  handful of counties, dim_date ≤1 row — and each fact row takes its
  keys from a literal ``COUNTY → [(SNAPSHOT_DATE_ID, LOCATION_ID)]``
  map inside the fact's own projection. No join, no broadcast job, no
  shuffle, at any fact scale;
- inner-join row drops are preserved for parity (a county missing from
  dim_location, or an empty dim_date, silently drops rows —
  app.py:156-164); ``audit_unmatched`` surfaces them on request;
- the three fact loads run at the same time (the reference appends them
  one after another, app.py:195-197). Each load is a small scan+write
  job, so run in sequence they leave most cores idle at each job
  barrier. All three loads are always attempted; if any fails, the
  first failure (in table order) is re-raised after the others finish,
  and the tables that did load keep their new rows, as a sequential
  load would have kept the ones before the failure.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict
from dataclasses import dataclass
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from cost_of_living_data_etl_spark.functions.columns import (
    decomma_to_double,
    with_county_suffix,
)
from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently
from cost_of_living_data_etl_spark.plans.schemas import (
    DIM_DATE_SCHEMA,
    DIM_LOCATION_SCHEMA,
    FACT_ANNUAL_EXPENSE_COLS,
    FACT_LIVING_WAGE_COLS,
    FACT_TYPICAL_ANNUAL_SALARY_COLS,
)
from cost_of_living_data_etl_spark.sources.lake import read_lake_csv
from cost_of_living_data_etl_spark.sources.warehouse import Warehouse

#: The dim keys every fact ends with, in keep-list order.
DIM_KEY_COLS = ["SNAPSHOT_DATE_ID", "LOCATION_ID"]


def _snapshot(as_of: dt.date | None) -> F.Column:
    """Injectable run-date constant (P4; reference uses date.today())."""
    return F.lit(as_of).cast("date") if as_of is not None else F.current_date()


def transform_living_wage(df: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """Filter LIVING tier, conform names/types (reference app.py:33-58)."""
    return df.filter(F.col("wage_level").contains("LIVING")).select(  # P1
        with_county_suffix("county").alias("COUNTY"),  # P2, C3
        F.col("num_adults").alias("NUMBER_OF_ADULTS"),
        F.col("num_children").cast("int").alias("NUMBER_OF_CHILDREN"),  # C1
        F.col("num_working").alias("NUMBER_OF_WORKING_ADULTS"),
        F.col("usd_amount").alias("HOURLY_WAGE"),
        _snapshot(as_of).alias("SNAPSHOT_DATE"),  # P4
    )


def transform_annual_expense(df: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """De-comma amounts, conform names/types (reference app.py:61-85)."""
    return df.select(
        F.col("expense_category").alias("CATEGORY"),
        F.col("num_adults").alias("NUMBER_OF_ADULTS"),
        F.col("num_children").cast("int").alias("NUMBER_OF_CHILDREN"),
        F.col("num_working").alias("NUMBER_OF_WORKING_ADULTS"),
        with_county_suffix("county").alias("COUNTY"),
        decomma_to_double("usd_amount").alias("AMOUNT"),  # C2
        _snapshot(as_of).alias("SNAPSHOT_DATE"),
    )


def transform_typical_salary(df: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """Conform names, suffix county (reference app.py:88-103)."""
    return df.select(
        F.col("occupational_area").alias("OCCUPATION"),
        F.col("typical_annual_salary").alias("SALARY"),
        with_county_suffix("county").alias("COUNTY"),
        _snapshot(as_of).alias("SNAPSHOT_DATE"),
    )


#: (fact table, lake category, transform, keep-list) — one row per fact,
#: in load order (reference app.py:172-197).
FACTS = (
    ("FACT_ANNUAL_EXPENSE", "expenses", transform_annual_expense, FACT_ANNUAL_EXPENSE_COLS),
    ("FACT_LIVING_WAGE", "living_wage", transform_living_wage, FACT_LIVING_WAGE_COLS),
    (
        "FACT_TYPICAL_ANNUAL_SALARY",
        "typical_salaries",
        transform_typical_salary,
        FACT_TYPICAL_ANNUAL_SALARY_COLS,
    ),
)


def dim_keys(
    dim_location: DataFrame,
    dim_date: DataFrame,
    as_of: dt.date | None = None,
    state: str = "DE",
) -> Column:
    """The two dimension joins as one literal lookup column (J1-J6).

    Filters ``dim_location`` to ``state`` (the reference's hand-pushed
    ``WHERE state = 'DE'``, app.py:140, S5) and ``dim_date`` to the
    snapshot date (app.py:143, S6), collects both at once — two small
    jobs per run, like the reference's two warehouse fetches — and
    returns ``map<COUNTY, array<struct<SNAPSHOT_DATE_ID, LOCATION_ID>>>``
    holding, for each county, every (date row × location row) pair the
    two inner joins would have produced. Keys and values carry the dim
    columns' own types; null counties are left out (an inner join never
    matches them), and a county listed more than once gets all of its
    locations. With an empty ``dim_date`` every array is empty.

    With ``as_of=None`` the snapshot date is ``current_date()``,
    resolved once here, when the dims are collected: every fact built
    from the returned column carries the same date, even across
    midnight.
    """
    loc = dim_location.filter(F.col("STATE") == state).select("COUNTY", "LOCATION_ID")
    dates = dim_date.filter(F.col("DATE") == _snapshot(as_of)).select("DATE_ID")
    loc_rows, date_rows = run_concurrently(loc.collect, dates.collect)

    # grouped here: Spark's map builder raises on a duplicate key
    ids_by_county: dict = defaultdict(list)
    for county, location_id in loc_rows:
        if county is not None:
            ids_by_county[county].append(location_id)

    date_field, loc_field = dates.schema["DATE_ID"], loc.schema["LOCATION_ID"]
    key_type = StructType(
        [
            StructField(DIM_KEY_COLS[0], date_field.dataType, date_field.nullable),
            StructField(DIM_KEY_COLS[1], loc_field.dataType, loc_field.nullable),
        ]
    )
    map_type = MapType(loc.schema["COUNTY"].dataType, ArrayType(key_type, False), False)
    pairs = []
    for county, ids in ids_by_county.items():
        matches = [F.struct(F.lit(d), F.lit(i)) for (d,) in date_rows for i in ids]
        pairs += [F.lit(county), F.array(*matches)]
    # one cast gives every literal its dim column's type (and the
    # struct fields their names and nullability); an empty map casts too
    return F.create_map(*pairs).cast(map_type)


def conform_to_facts(df: DataFrame, keys: Column, keep_cols: list[str]) -> DataFrame:
    """Dimension lookup + rename + prune in one projection (reference
    app.py:151-192).

    ``keys`` is ``dim_keys``' lookup; ``inline`` turns each row's array
    of matches into zero or more output rows, so the inner-join
    semantics hold exactly: an unmatched county (or an empty
    dim_date) drops the row, a county listed twice doubles it (see
    ``audit_unmatched`` for the drops).
    """
    if keep_cols[-2:] != DIM_KEY_COLS:
        raise ValueError(f"keep-list {keep_cols} must end with {DIM_KEY_COLS}")
    return df.select(*keep_cols[:-2], F.inline(keys[F.col("COUNTY")]))  # J1-J6


def audit_unmatched(df: DataFrame, dim_location: DataFrame) -> DataFrame:
    """Rows the inner join would silently drop (SURVEY.md §2.4).

    left_anti against a broadcast dim — costs one extra pass over the
    already-scanned fact, no shuffle.
    """
    return df.join(
        F.broadcast(dim_location.select("COUNTY")), "COUNTY", "left_anti"
    )


@dataclass
class PipelineResult:
    fact_annual_expense: DataFrame
    fact_living_wage: DataFrame
    fact_typical_annual_salary: DataFrame


def _build_fact(
    spark: SparkSession,
    lake_root: str,
    extract_date: str,
    keys: Column,
    as_of: dt.date | None,
    category: str,
    transform,
    keep_cols: list[str],
) -> DataFrame:
    lake = read_lake_csv(spark, lake_root, category, extract_date)
    return conform_to_facts(transform(lake, as_of), keys, keep_cols)


def build_pipeline(
    spark: SparkSession,
    lake_root: str,
    extract_date: str,
    dim_location: DataFrame,
    dim_date: DataFrame,
    as_of: dt.date | None = None,
    state: str = "DE",
) -> PipelineResult:
    """Build all three fact-table plans (reference app.py:106-192).

    The facts are lazy; the dims are collected here, by ``dim_keys``.
    """
    keys = dim_keys(dim_location, dim_date, as_of, state)
    return PipelineResult(
        **{
            table.lower(): _build_fact(
                spark, lake_root, extract_date, keys, as_of, category, transform, cols
            )
            for table, category, transform, cols in FACTS
        }
    )


def run_pipeline(
    spark: SparkSession,
    lake_root: str,
    warehouse: Warehouse,
    extract_date: str,
    as_of: dt.date | None = None,
    state: str = "DE",
) -> dict[str, int]:
    """End-to-end ETL: lake → conform → append-load 3 facts (app.py:106-199).

    Returns the row count each load APPENDED (the reference returns an
    unconditional 200 with no row-count check, app.py:199). Counts come
    from ``df.observe`` accumulators attached to the write itself —
    zero extra scans, exact per-batch numbers. At 100 TB this is the
    difference between free load metrics and re-reading the facts you
    just wrote.

    The dims are read with their declared schemas (no footer job) and
    collected once. Each fact is then built and appended inside its
    own ``run_concurrently`` thunk, so the three plans are analyzed and
    their scan+write jobs run side by side: five Spark jobs per load.
    The returned dict keeps ``FACTS`` order. Every append is attempted;
    if one raises, the first error in that order is re-raised once all
    three have finished, and the facts that loaded stay loaded (no
    rollback).
    """
    keys = dim_keys(
        warehouse.read(spark, "dim_location", DIM_LOCATION_SCHEMA),
        warehouse.read(spark, "dim_date", DIM_DATE_SCHEMA),
        as_of,
        state,
    )

    def load(table: str, category: str, transform, keep_cols: list[str]) -> int:
        fact = _build_fact(
            spark, lake_root, extract_date, keys, as_of, category, transform, keep_cols
        )
        obs = Observation(f"load_{table}")
        warehouse.append(fact.observe(obs, F.count(F.lit(1)).alias("rows")), table)
        return int(obs.get["rows"])

    counts = run_concurrently(*(partial(load, *fact) for fact in FACTS))
    return {table: n for (table, *_), n in zip(FACTS, counts)}
