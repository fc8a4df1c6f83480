#!/usr/bin/env python
"""Measure the engine's ETL throughput against a reference-shaped
single-node pandas pipeline at growing lake sizes.

The north star requires matching-or-beating the reference's
single-node throughput at the same data scale. The reference is a
single-threaded pandas Lambda (reference app.py:106-199); this
harness re-creates its pipeline SHAPE from the SURVEY §2 spec —
eager pandas, ``Series.apply`` lambdas for de-comma and county
suffix, two hash merges, keep-list prune, parquet write (the
write_pandas analogue) — and times it against
``plans/etl.py::run_pipeline`` (Spark, local[N]) on identical
generated lake CSVs.

Usage:  python tools/bench_etl_vs_pandas.py [rows_per_category ...]
Prints one JSON line per scale with both wall times.

(Written from the documented behavior in SURVEY.md §2/§3 — not a copy
of the reference source.)
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

import numpy as np
import pandas as pd

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

EXTRACT_DATE = "2024-06-01"
AS_OF = dt.date(2024, 6, 2)
COUNTIES = ["Kent", "New Castle", "Sussex", "Cecil"]  # Cecil: non-DE, drops
WAGE_LEVELS = ["LIVING WAGE", "POVERTY WAGE", "MINIMUM WAGE"]
CATEGORIES = ["HOUSING", "FOOD", "TRANSPORT", "MEDICAL"]
OCCUPATIONS = ["Healthcare Support", "Legal", "Production", "Sales"]


def gen_lake(root: str, n: int, seed: int = 42) -> None:
    rng = np.random.default_rng(seed)
    d = Path(root) / "real_estate" / "cost_of_living" / EXTRACT_DATE
    d.mkdir(parents=True)

    def split_write(df: pd.DataFrame, cat: str) -> None:
        half = len(df) // 2
        df.iloc[:half].to_csv(d / f"part0_{cat}_a.csv", index=False)
        df.iloc[half:].to_csv(d / f"part1_{cat}_b.csv", index=False)

    lw = pd.DataFrame(
        {
            "wage_level": rng.choice(WAGE_LEVELS, n),
            "num_adults": rng.integers(1, 3, n),
            "num_children": rng.integers(0, 4, n).astype(str),
            "num_working": rng.integers(1, 3, n),
            "county": rng.choice(COUNTIES, n),
            "usd_amount": np.round(rng.uniform(8, 45, n), 2),
        }
    )
    split_write(lw, "living_wage")

    ex = pd.DataFrame(
        {
            "expense_category": rng.choice(CATEGORIES, n),
            "num_adults": rng.integers(1, 3, n),
            "num_children": rng.integers(0, 4, n).astype(str),
            "num_working": rng.integers(1, 3, n),
            "county": rng.choice(COUNTIES, n),
            # comma-grouped money strings, the C2 cast fixture
            "usd_amount": [
                f"{v:,.2f}" for v in rng.uniform(500, 95000, n)
            ],
        }
    )
    split_write(ex, "expenses")

    sal = pd.DataFrame(
        {
            "occupational_area": rng.choice(OCCUPATIONS, n),
            "typical_annual_salary": np.round(rng.uniform(22000, 160000, n), 0),
            "county": rng.choice(COUNTIES, n),
        }
    )
    split_write(sal, "typical_salaries")


def dims() -> tuple[pd.DataFrame, pd.DataFrame]:
    dim_location = pd.DataFrame(
        {
            "LOCATION_ID": [1, 2, 3, 4],
            "COUNTY": ["Kent COUNTY", "New Castle COUNTY", "Sussex COUNTY", "Cecil COUNTY"],
            "STATE": ["DE", "DE", "DE", "MD"],
        }
    )
    dim_date = pd.DataFrame({"DATE_ID": [20240602], "DATE": [AS_OF]})
    return dim_location, dim_date


# ---------------------------------------------------------------------
# reference-shaped single-threaded pandas pipeline (from SURVEY §2/§3)
# ---------------------------------------------------------------------
def pandas_etl(lake_root: str, out_dir: str) -> dict[str, int]:
    lake = f"{lake_root}/real_estate/cost_of_living/{EXTRACT_DATE}"

    def read_cat(cat: str) -> pd.DataFrame:
        frames = [pd.read_csv(p) for p in sorted(glob.glob(f"{lake}/*{cat}*"))]
        return pd.concat(frames)

    dim_location, dim_date = dims()
    loc = dim_location[dim_location["STATE"] == "DE"][["LOCATION_ID", "COUNTY"]]
    dd = dim_date[dim_date["DATE"] == AS_OF][["DATE_ID", "DATE"]]

    # living wage: P1 filter, P2 rename, C1 cast, C3 suffix-apply, P4 const
    lw = read_cat("living_wage")
    lw = lw[lw["wage_level"].str.contains("LIVING")]
    lw = lw.rename(
        columns={
            "num_adults": "NUMBER_OF_ADULTS",
            "num_children": "NUMBER_OF_CHILDREN",
            "num_working": "NUMBER_OF_WORKING_ADULTS",
            "county": "COUNTY",
            "usd_amount": "HOURLY_WAGE_USD_AMOUNT",
        }
    )
    lw["NUMBER_OF_CHILDREN"] = lw["NUMBER_OF_CHILDREN"].astype(int)
    lw["COUNTY"] = lw["COUNTY"].apply(lambda x: x + " COUNTY")
    lw["SNAPSHOT_DATE"] = AS_OF

    ex = read_cat("expenses")
    ex = ex.rename(
        columns={
            "expense_category": "EXPENSE_CATEGORY",
            "num_adults": "NUMBER_OF_ADULTS",
            "num_children": "NUMBER_OF_CHILDREN",
            "num_working": "NUMBER_OF_WORKING_ADULTS",
            "county": "COUNTY",
            "usd_amount": "ANNUAL_EXPENSE_USD_AMOUNT",
        }
    )
    # C2: de-comma via row-wise apply (the reference's slow path)
    ex["ANNUAL_EXPENSE_USD_AMOUNT"] = (
        ex["ANNUAL_EXPENSE_USD_AMOUNT"].apply(lambda x: x.replace(",", "")).astype(float)
    )
    ex["NUMBER_OF_CHILDREN"] = ex["NUMBER_OF_CHILDREN"].astype(int)
    ex["COUNTY"] = ex["COUNTY"].apply(lambda x: x + " COUNTY")
    ex["SNAPSHOT_DATE"] = AS_OF

    sal = read_cat("typical_salaries")
    sal = sal.rename(
        columns={
            "occupational_area": "OCCUPATIONAL_AREA",
            "typical_annual_salary": "TYPICAL_ANNUAL_SALARY_USD_AMOUNT",
            "county": "COUNTY",
        }
    )
    sal["COUNTY"] = sal["COUNTY"].apply(lambda x: x + " COUNTY")
    sal["SNAPSHOT_DATE"] = AS_OF

    out: dict[str, int] = {}
    for name, df in [("FACT_LIVING_WAGE", lw), ("FACT_ANNUAL_EXPENSE", ex),
                     ("FACT_TYPICAL_ANNUAL_SALARY", sal)]:
        j = df.merge(loc, on="COUNTY")  # J1-J3
        j = j.merge(dd, left_on="SNAPSHOT_DATE", right_on="DATE")  # J4-J6
        j = j.rename(columns={"DATE_ID": "SNAPSHOT_DATE_ID"})
        j = j.drop(columns=["COUNTY", "SNAPSHOT_DATE", "DATE"])
        j.to_parquet(f"{out_dir}/{name}.parquet")  # write_pandas analogue
        out[name] = len(j)
    return out


def write_dims(spark, wh) -> None:
    """Overwrite ``dims()`` into the warehouse ``wh`` as parquet tables."""
    import pyspark.sql.functions as F

    dim_location, dim_date = dims()
    wh.overwrite(spark.createDataFrame(dim_location), "dim_location")
    wh.overwrite(
        spark.createDataFrame(dim_date).withColumn("DATE", F.col("DATE").cast("date")),
        "dim_date",
    )


def spark_etl(spark, lake_root: str, wh_dir: str) -> dict[str, int]:
    from cost_of_living_data_etl_spark.plans.etl import run_pipeline
    from cost_of_living_data_etl_spark.sources.warehouse import Warehouse

    wh = Warehouse(wh_dir)
    write_dims(spark, wh)
    return run_pipeline(spark, lake_root, wh, EXTRACT_DATE, as_of=AS_OF)


def main() -> None:
    from cost_of_living_data_etl_spark.session import get_spark

    scales = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]
    spark = get_spark(app_name="etl-vs-pandas")
    for n in scales:
        tmp = tempfile.mkdtemp(prefix="etlbench-")
        try:
            gen_lake(f"{tmp}/lake", n)
            t0 = time.time()
            p_counts = pandas_etl(f"{tmp}/lake", tmp)
            t_pandas = time.time() - t0

            # warm Spark once at the smallest scale to amortize JVM/codegen
            t0 = time.time()
            s_counts = spark_etl(spark, f"{tmp}/lake", f"{tmp}/wh")
            t_spark = time.time() - t0

            assert p_counts == s_counts, (p_counts, s_counts)
            print(
                json.dumps(
                    {
                        "rows_per_category": n,
                        "pandas_sec": round(t_pandas, 3),
                        "spark_sec": round(t_spark, 3),
                        "speedup": round(t_pandas / t_spark, 2),
                        "fact_rows": s_counts,
                    }
                )
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
