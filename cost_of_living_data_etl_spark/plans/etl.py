"""The cost-of-living ETL pipeline, Spark-first.

Reference parity map (all citations into /root/reference/app.py):

- ``transform_living_wage``   ≡ transform_living_wage_df       (app.py:33-58)
- ``transform_annual_expense``≡ transform_annual_expense_df    (app.py:61-85)
- ``transform_typical_salary``≡ transform_typical_annual_salary_df (app.py:88-103)
- ``run_pipeline``            ≡ main                           (app.py:106-199)

Differences by design:
- every transform is a pure ``DataFrame -> DataFrame`` of native column
  expressions (no Python row lambdas — the reference's three
  ``Series.apply`` calls become regexp_replace/concat/cast, C2/C3);
- the snapshot date is injectable (``as_of``) instead of
  ``date.today()`` (app.py:57,84,101) so runs and goldens are
  deterministic;
- dimension joins are explicit broadcast hash joins — dim_location is
  3 rows, dim_date ≤1 row (app.py:151-164), so no shuffle of the fact
  side ever happens, at any scale;
- inner-join row drops are preserved for parity (a county missing from
  dim_location, or an empty dim_date, silently drops rows —
  app.py:156-164) but surfaced via a cheap left_anti audit;
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
from dataclasses import dataclass
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cost_of_living_data_etl_spark.functions.columns import (
    decomma_to_double,
    with_county_suffix,
)
from cost_of_living_data_etl_spark.functions.concurrent import run_concurrently
from cost_of_living_data_etl_spark.plans.schemas import (
    FACT_ANNUAL_EXPENSE_COLS,
    FACT_LIVING_WAGE_COLS,
    FACT_TYPICAL_ANNUAL_SALARY_COLS,
)
from cost_of_living_data_etl_spark.sources.lake import read_lake_csv
from cost_of_living_data_etl_spark.sources.warehouse import Warehouse


def _snapshot(as_of: dt.date | None) -> F.Column:
    """Injectable run-date constant (P4; reference uses date.today())."""
    return F.lit(as_of).cast("date") if as_of is not None else F.current_date()


def transform_living_wage(df: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """Filter LIVING tier, conform names/types (reference app.py:33-58)."""
    return (
        df.filter(F.col("wage_level").contains("LIVING"))  # P1
        .withColumnsRenamed(  # P2
            {
                "num_children": "NUMBER_OF_CHILDREN",
                "num_adults": "NUMBER_OF_ADULTS",
                "county": "COUNTY",
                "num_working": "NUMBER_OF_WORKING_ADULTS",
                "usd_amount": "HOURLY_WAGE",
            }
        )
        .withColumn("NUMBER_OF_CHILDREN", F.col("NUMBER_OF_CHILDREN").cast("int"))  # C1
        .withColumn("COUNTY", with_county_suffix("COUNTY"))  # C3
        .select(  # P3
            "COUNTY",
            "NUMBER_OF_ADULTS",
            "NUMBER_OF_CHILDREN",
            "NUMBER_OF_WORKING_ADULTS",
            "HOURLY_WAGE",
        )
        .withColumn("SNAPSHOT_DATE", _snapshot(as_of))  # P4
    )


def transform_annual_expense(df: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """De-comma amounts, conform names/types (reference app.py:61-85)."""
    return (
        df.withColumn("usd_amount", decomma_to_double("usd_amount"))  # C2
        .withColumnsRenamed(
            {
                "num_children": "NUMBER_OF_CHILDREN",
                "num_adults": "NUMBER_OF_ADULTS",
                "num_working": "NUMBER_OF_WORKING_ADULTS",
                "expense_category": "CATEGORY",
                "usd_amount": "AMOUNT",
                "county": "COUNTY",
            }
        )
        .withColumn("NUMBER_OF_CHILDREN", F.col("NUMBER_OF_CHILDREN").cast("int"))
        .withColumn("COUNTY", with_county_suffix("COUNTY"))
        .withColumn("SNAPSHOT_DATE", _snapshot(as_of))
    )


def transform_typical_salary(df: DataFrame, as_of: dt.date | None = None) -> DataFrame:
    """Conform names, suffix county (reference app.py:88-103)."""
    return (
        df.withColumnsRenamed(
            {
                "occupational_area": "OCCUPATION",
                "typical_annual_salary": "SALARY",
                "county": "COUNTY",
            }
        )
        .withColumn("SNAPSHOT_DATE", _snapshot(as_of))
        .withColumn("COUNTY", with_county_suffix("COUNTY"))
    )


def conform_to_facts(
    df: DataFrame,
    dim_location: DataFrame,
    dim_date: DataFrame,
    keep_cols: list[str],
) -> DataFrame:
    """Dimension joins + rename + prune (reference app.py:151-192).

    Both dims are broadcast: the fact side streams through two
    broadcast hash joins with zero shuffle — the only plan that
    survives a 100 TB fact scan. Inner semantics preserved (rows with
    unmatched county, or an empty dim_date, drop silently; see
    ``audit_unmatched`` for the observability hook).
    """
    return (
        df.join(F.broadcast(dim_location.select("LOCATION_ID", "COUNTY")), "COUNTY", "inner")  # J1-J3
        .join(  # J4-J6: heterogeneous key names, both survive until the prune
            F.broadcast(dim_date.select("DATE_ID", "DATE")),
            F.col("SNAPSHOT_DATE") == F.col("DATE"),
            "inner",
        )
        .withColumnRenamed("DATE_ID", "SNAPSHOT_DATE_ID")  # app.py:167-169
        .select(*keep_cols)  # app.py:172-192
    )


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
    dropped_living_wage: DataFrame
    dropped_annual_expense: DataFrame
    dropped_typical_salary: DataFrame


def build_pipeline(
    spark: SparkSession,
    lake_root: str,
    extract_date: str,
    dim_location: DataFrame,
    dim_date: DataFrame,
    as_of: dt.date | None = None,
    state: str = "DE",
) -> PipelineResult:
    """Build all three fact-table plans (lazy; reference app.py:106-192).

    ``dim_location`` is pre-filtered to ``state`` here — the reference
    pushes ``WHERE state = 'DE'`` into warehouse SQL by hand
    (app.py:140, S5); expressed as a ``.filter`` Catalyst pushes it
    into whatever source backs the dim. ``dim_date`` is filtered to
    the as-of date (app.py:143, S6).
    """
    loc = dim_location.filter(F.col("STATE") == state).select("LOCATION_ID", "COUNTY")
    dd = dim_date.filter(F.col("DATE") == _snapshot(as_of)).select("DATE_ID", "DATE")

    living_wage = transform_living_wage(
        read_lake_csv(spark, lake_root, "living_wage", extract_date), as_of
    )
    annual_expense = transform_annual_expense(
        read_lake_csv(spark, lake_root, "expenses", extract_date), as_of
    )
    typical_salary = transform_typical_salary(
        read_lake_csv(spark, lake_root, "typical_salaries", extract_date), as_of
    )

    return PipelineResult(
        fact_annual_expense=conform_to_facts(
            annual_expense, loc, dd, FACT_ANNUAL_EXPENSE_COLS
        ),
        fact_living_wage=conform_to_facts(living_wage, loc, dd, FACT_LIVING_WAGE_COLS),
        fact_typical_annual_salary=conform_to_facts(
            typical_salary, loc, dd, FACT_TYPICAL_ANNUAL_SALARY_COLS
        ),
        dropped_living_wage=audit_unmatched(living_wage, loc),
        dropped_annual_expense=audit_unmatched(annual_expense, loc),
        dropped_typical_salary=audit_unmatched(typical_salary, loc),
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

    The three appends are submitted together through
    ``run_concurrently``, so their scan+write jobs share the cores
    instead of queueing behind each other. The returned dict keeps the
    table order below. Every append is attempted; if one raises, the
    first error in that order is re-raised once all three have
    finished, and the facts that loaded stay loaded (no rollback).
    """
    from pyspark.sql import Observation

    dim_location = warehouse.read(spark, "dim_location")
    dim_date = warehouse.read(spark, "dim_date")
    result = build_pipeline(
        spark, lake_root, extract_date, dim_location, dim_date, as_of, state
    )
    facts = [
        ("FACT_ANNUAL_EXPENSE", result.fact_annual_expense),
        ("FACT_LIVING_WAGE", result.fact_living_wage),
        ("FACT_TYPICAL_ANNUAL_SALARY", result.fact_typical_annual_salary),
    ]

    def load(table: str, df: DataFrame) -> int:
        obs = Observation(f"load_{table}")
        warehouse.append(df.observe(obs, F.count(F.lit(1)).alias("rows")), table)
        return int(obs.get["rows"])

    counts = run_concurrently(*(partial(load, table, df) for table, df in facts))
    return {table: n for (table, _), n in zip(facts, counts)}
