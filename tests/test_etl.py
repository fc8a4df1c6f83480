"""ETL parity tests: fixture lake CSVs → pipeline → golden facts.

Mirrors reference main() (app.py:106-199) minus network; exercises
P1-P5, C1-C3, J1-J6, S1-S4, S7 semantics including the silent-drop
cases (SURVEY.md §7 "what's hard" #3).
"""

from __future__ import annotations

import datetime as dt
import threading

import pyspark.sql.functions as F
import pytest

from cost_of_living_data_etl_spark.plans.etl import (
    FACTS,
    audit_unmatched,
    build_pipeline,
    conform_to_facts,
    dim_keys,
    run_pipeline,
    transform_annual_expense,
    transform_living_wage,
)
from cost_of_living_data_etl_spark.plans.schemas import (
    DIM_DATE_SCHEMA,
    DIM_LOCATION_SCHEMA,
)
from cost_of_living_data_etl_spark.sources.lake import LAKE_PREFIX, read_lake_csv
from cost_of_living_data_etl_spark.sources.warehouse import Warehouse

from cost_of_living_data_etl_spark.app import AppConfig, main

AS_OF = dt.date(2024, 6, 1)
EXTRACT = "2024-06-01"


@pytest.fixture(scope="module")
def lake_root(tmp_path_factory):
    """Two CSV files per category (exercises the multi-file union, S4)."""
    root = tmp_path_factory.mktemp("lake")
    d = root / LAKE_PREFIX / EXTRACT
    d.mkdir(parents=True)
    (d / "living_wage_1.csv").write_text(
        "wage_level,num_adults,num_children,num_working,county,usd_amount\n"
        "LIVING WAGE,2,2,1,Kent,21.34\n"
        "POVERTY WAGE,2,2,1,Kent,10.00\n"
        "MINIMUM WAGE,2,2,1,Kent,11.75\n"
    )
    (d / "living_wage_2.csv").write_text(
        "wage_level,num_adults,num_children,num_working,county,usd_amount\n"
        "LIVING WAGE,1,0,1,Sussex,15.50\n"
        "LIVING WAGE,2,3,2,Atlantis,33.00\n"  # county not in dim_location → dropped
    )
    (d / "expenses_1.csv").write_text(
        "expense_category,num_adults,num_children,num_working,county,usd_amount\n"
        'HOUSING,2,2,1,Kent,"12,345.67"\n'
        'FOOD,2,2,1,Kent,"9,876.54"\n'
    )
    (d / "expenses_2.csv").write_text(
        "expense_category,num_adults,num_children,num_working,county,usd_amount\n"
        'CHILDCARE,1,0,1,Sussex,"1,000.00"\n'
    )
    (d / "typical_salaries_1.csv").write_text(
        "occupational_area,typical_annual_salary,county\n"
        "Healthcare Support,34780.0,Kent\n"
    )
    (d / "typical_salaries_2.csv").write_text(
        "occupational_area,typical_annual_salary,county\n"
        "Legal,98500.0,Sussex\n"
    )
    return str(root)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("warehouse")
    wh = Warehouse(str(root))
    loc = spark.createDataFrame(
        [
            (1, "KENT COUNTY", "DE"),
            (2, "NEW CASTLE COUNTY", "DE"),
            (3, "SUSSEX COUNTY", "DE"),
            (4, "KENT COUNTY", "MD"),  # same county name, other state: must not match
            (5, "Kent COUNTY", "DE"),  # the lake-cased form the joins actually hit
            (6, "Sussex COUNTY", "DE"),
        ],
        schema=DIM_LOCATION_SCHEMA,
    )
    dd = spark.createDataFrame(
        [(20240601, AS_OF), (20240602, AS_OF + dt.timedelta(days=1))],
        schema=DIM_DATE_SCHEMA,
    )
    wh.overwrite(loc, "dim_location")
    wh.overwrite(dd, "dim_date")
    return wh


def test_lake_read_unions_files(spark, lake_root):
    df = read_lake_csv(spark, lake_root, "living_wage", EXTRACT)
    assert df.count() == 5  # 3 + 2 across two files


def test_transform_living_wage(spark, lake_root):
    df = transform_living_wage(
        read_lake_csv(spark, lake_root, "living_wage", EXTRACT), as_of=AS_OF
    )
    rows = {r["COUNTY"]: r for r in df.collect()}
    assert set(rows) == {"Kent COUNTY", "Sussex COUNTY", "Atlantis COUNTY"}  # P1 filter
    kent = rows["Kent COUNTY"]
    assert kent["NUMBER_OF_CHILDREN"] == 2 and isinstance(kent["NUMBER_OF_CHILDREN"], int)
    assert kent["HOURLY_WAGE"] == 21.34
    assert kent["SNAPSHOT_DATE"] == AS_OF
    assert df.columns == [
        "COUNTY",
        "NUMBER_OF_ADULTS",
        "NUMBER_OF_CHILDREN",
        "NUMBER_OF_WORKING_ADULTS",
        "HOURLY_WAGE",
        "SNAPSHOT_DATE",
    ]


def test_transform_expense_decomma(spark, lake_root):
    df = transform_annual_expense(
        read_lake_csv(spark, lake_root, "expenses", EXTRACT), as_of=AS_OF
    )
    amounts = {r["CATEGORY"]: r["AMOUNT"] for r in df.collect()}
    assert amounts == {"HOUSING": 12345.67, "FOOD": 9876.54, "CHILDCARE": 1000.00}


def test_pipeline_golden(spark, lake_root, warehouse):
    counts = run_pipeline(spark, lake_root, warehouse, EXTRACT, as_of=AS_OF)
    assert counts == {
        "FACT_ANNUAL_EXPENSE": 3,
        "FACT_LIVING_WAGE": 2,  # Atlantis dropped by inner join
        "FACT_TYPICAL_ANNUAL_SALARY": 2,
    }
    lw = {
        r["LOCATION_ID"]: r
        for r in warehouse.read(spark, "FACT_LIVING_WAGE").collect()
    }
    assert set(lw) == {5, 6}
    assert lw[5]["HOURLY_WAGE"] == 21.34
    assert lw[5]["SNAPSHOT_DATE_ID"] == 20240601
    sal = warehouse.read(spark, "FACT_TYPICAL_ANNUAL_SALARY")
    assert sal.columns == ["OCCUPATION", "SALARY", "SNAPSHOT_DATE_ID", "LOCATION_ID"]


def _fresh_warehouse(spark, warehouse, cls, root) -> Warehouse:
    wh = cls(str(root))
    wh.overwrite(warehouse.read(spark, "dim_location"), "dim_location")
    wh.overwrite(warehouse.read(spark, "dim_date"), "dim_date")
    return wh


class _BarrierWarehouse(Warehouse):
    """Each append waits until all three loads are in flight, so a
    pipeline that loads one table after another fails with
    ``BrokenBarrierError`` instead of passing."""

    def __init__(self, root: str):
        super().__init__(root)
        self.barrier = threading.Barrier(3, timeout=30)

    def append(self, df, table, fmt="parquet"):
        self.barrier.wait()
        super().append(df, table, fmt)


class _FailingWarehouse(Warehouse):
    def append(self, df, table, fmt="parquet"):
        if table == "FACT_LIVING_WAGE":
            raise OSError(f"disk full while loading {table}")
        super().append(df, table, fmt)


def test_pipeline_loads_facts_at_once(spark, lake_root, warehouse, tmp_path):
    wh = _fresh_warehouse(spark, warehouse, _BarrierWarehouse, tmp_path / "wh")
    counts = run_pipeline(spark, lake_root, wh, EXTRACT, as_of=AS_OF)
    assert list(counts.items()) == [
        ("FACT_ANNUAL_EXPENSE", 3),
        ("FACT_LIVING_WAGE", 2),
        ("FACT_TYPICAL_ANNUAL_SALARY", 2),
    ]
    assert {t: wh.read(spark, t).count() for t in counts} == counts


def test_failing_load_raises_after_others_load(spark, lake_root, warehouse, tmp_path):
    wh = _fresh_warehouse(spark, warehouse, _FailingWarehouse, tmp_path / "wh")
    with pytest.raises(OSError, match="FACT_LIVING_WAGE"):
        run_pipeline(spark, lake_root, wh, EXTRACT, as_of=AS_OF)
    # every load was attempted; the ones that succeeded stay loaded
    assert wh.read(spark, "FACT_ANNUAL_EXPENSE").count() == 3
    assert wh.read(spark, "FACT_TYPICAL_ANNUAL_SALARY").count() == 2


def test_missing_dim_date_yields_zero_rows(spark, lake_root, warehouse):
    """Empty dim_date for as_of ⇒ all facts 0 rows (app.py:156-164 parity)."""
    dim_location = warehouse.read(spark, "dim_location")
    dim_date = warehouse.read(spark, "dim_date")
    res = build_pipeline(
        spark, lake_root, EXTRACT, dim_location, dim_date,
        as_of=dt.date(1999, 1, 1),
    )
    assert res.fact_living_wage.count() == 0
    assert res.fact_annual_expense.count() == 0
    assert res.fact_typical_annual_salary.count() == 0


def test_audit_surfaces_dropped_rows(spark, lake_root, warehouse):
    dim_location = warehouse.read(spark, "dim_location")
    loc = dim_location.filter(dim_location.STATE == "DE")
    lw = transform_living_wage(
        read_lake_csv(spark, lake_root, "living_wage", EXTRACT), as_of=AS_OF
    )
    dropped = audit_unmatched(lw, loc).collect()
    assert [r["COUNTY"] for r in dropped] == ["Atlantis COUNTY"]


def test_state_filter_excludes_other_states(spark, lake_root, warehouse):
    """MD's KENT COUNTY must not leak in (S5 pushdown semantics)."""
    dim_location = warehouse.read(spark, "dim_location")
    dim_date = warehouse.read(spark, "dim_date")
    res = build_pipeline(
        spark, lake_root, EXTRACT, dim_location, dim_date, as_of=AS_OF
    )
    ids = {r["LOCATION_ID"] for r in res.fact_living_wage.collect()}
    assert 4 not in ids


@pytest.fixture(scope="module")
def edge_lake(tmp_path_factory):
    """Lake rows for the lookup-vs-join oracle: a null county, a county
    no dim lists, and a county name with a quote character."""
    root = tmp_path_factory.mktemp("edge_lake")
    d = root / LAKE_PREFIX / EXTRACT
    d.mkdir(parents=True)
    (d / "living_wage.csv").write_text(
        "wage_level,num_adults,num_children,num_working,county,usd_amount\n"
        "LIVING WAGE,2,2,1,Kent,21.34\n"
        "LIVING WAGE,1,0,1,,15.50\n"
        "LIVING WAGE,2,3,2,Atlantis,33.00\n"
        "LIVING WAGE,1,1,1,O'Brien,18.25\n"
        "POVERTY WAGE,1,1,1,O'Brien,9.00\n"
    )
    (d / "expenses.csv").write_text(
        "expense_category,num_adults,num_children,num_working,county,usd_amount\n"
        'HOUSING,2,2,1,Kent,"12,345.67"\n'
        'FOOD,1,0,1,,"9,876.54"\n'
        'CHILDCARE,1,0,1,Atlantis,"1,000.00"\n'
        'MEDICAL,2,1,2,O\'Brien,"4,321.00"\n'
    )
    (d / "typical_salaries.csv").write_text(
        "occupational_area,typical_annual_salary,county\n"
        "Healthcare Support,34780.0,Kent\n"
        "Legal,98500.0,\n"
        "Sales,41000.0,Atlantis\n"
        "Production,52000.0,O'Brien\n"
    )
    return str(root)


@pytest.fixture(scope="module")
def edge_dims(spark):
    """A DE county listed twice, a null county, a quoted county name,
    and two dim_date rows for ``AS_OF``."""
    loc = spark.createDataFrame(
        [
            (5, "Kent COUNTY", "DE"),
            (7, "Kent COUNTY", "DE"),
            (4, "Kent COUNTY", "MD"),
            (8, "O'Brien COUNTY", "DE"),
            (9, None, "DE"),
        ],
        schema=DIM_LOCATION_SCHEMA,
    )
    dd = spark.createDataFrame(
        [
            (20240601, AS_OF),
            (20240699, AS_OF),
            (20240602, AS_OF + dt.timedelta(days=1)),
        ],
        schema=DIM_DATE_SCHEMA,
    )
    return loc, dd


def _broadcast_join_facts(spark, lake_root, dim_location, dim_date):
    """The facts as two broadcast inner joins on the dims: the plan the
    key lookup replaces, kept here as its oracle."""
    loc = dim_location.filter(F.col("STATE") == "DE").select("LOCATION_ID", "COUNTY")
    dd = dim_date.filter(F.col("DATE") == F.lit(AS_OF)).select("DATE_ID", "DATE")
    return {
        table: transform(read_lake_csv(spark, lake_root, category, EXTRACT), AS_OF)
        .join(F.broadcast(loc), "COUNTY")
        .join(F.broadcast(dd), F.col("SNAPSHOT_DATE") == F.col("DATE"))
        .withColumnRenamed("DATE_ID", "SNAPSHOT_DATE_ID")
        .select(*keep_cols)
        for table, category, transform, keep_cols in FACTS
    }


def test_key_lookup_matches_broadcast_join(spark, edge_lake, edge_dims):
    dim_location, dim_date = edge_dims
    want = _broadcast_join_facts(spark, edge_lake, dim_location, dim_date)
    res = build_pipeline(spark, edge_lake, EXTRACT, dim_location, dim_date, as_of=AS_OF)
    for table, oracle in want.items():
        got = getattr(res, table.lower())
        assert got.schema == oracle.schema, table
        assert got.exceptAll(oracle).count() == 0, table
        assert oracle.exceptAll(got).count() == 0, table
    # Kent: 2 DE locations x 2 dates; O'Brien: 1 x 2; null and Atlantis drop
    counts = {t: df.count() for t, df in want.items()}
    assert counts == {
        "FACT_ANNUAL_EXPENSE": 6,
        "FACT_LIVING_WAGE": 6,
        "FACT_TYPICAL_ANNUAL_SALARY": 6,
    }


def test_dim_keys_resolves_today_when_as_of_is_none(spark):
    """``as_of=None`` looks up the dim_date row of the session's
    current date."""
    today = spark.sql("SELECT current_date()").first()[0]
    dd = spark.createDataFrame(
        [(1, today), (2, today - dt.timedelta(days=400))], schema=DIM_DATE_SCHEMA
    )
    loc = spark.createDataFrame([(5, "Kent COUNTY", "DE")], schema=DIM_LOCATION_SCHEMA)
    facts = spark.createDataFrame([("Kent COUNTY", 7)], "COUNTY string, X int")
    rows = conform_to_facts(facts, dim_keys(loc, dd), ["X", "SNAPSHOT_DATE_ID", "LOCATION_ID"])
    assert [tuple(r) for r in rows.collect()] == [(7, 1, 5)]


def test_conform_rejects_keep_list_without_dim_keys(spark, edge_dims):
    """A raise, not an assert: the guard holds under ``python -O``."""
    keys = dim_keys(*edge_dims, as_of=AS_OF)
    facts = spark.createDataFrame([("Kent COUNTY", 1)], "COUNTY string, X int")
    with pytest.raises(ValueError, match="must end with"):
        conform_to_facts(facts, keys, ["X", "LOCATION_ID", "SNAPSHOT_DATE_ID"])


def test_load_submits_five_jobs(spark, lake_root, warehouse, tmp_path):
    """Two dim collects and three appends; the declared-schema dim
    reads themselves submit no job (no footer read)."""
    wh = _fresh_warehouse(spark, warehouse, Warehouse, tmp_path / "wh")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("test-etl-dim-reads", "declared-schema dim reads")
        wh.read(spark, "dim_location", DIM_LOCATION_SCHEMA)
        wh.read(spark, "dim_date", DIM_DATE_SCHEMA)
        sc.setJobGroup("test-etl-load", "one run_pipeline call")
        run_pipeline(spark, lake_root, wh, EXTRACT, as_of=AS_OF)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(tracker.getJobIdsForGroup("test-etl-dim-reads")) == []
    assert len(tracker.getJobIdsForGroup("test-etl-load")) == 5


def test_declared_dim_schemas_match_written_dims(spark, tmp_path):
    """The declared dim schemas are the ones the dims have on disk, so a
    declared read cannot drift from an inferred one."""
    from tools.bench_etl_vs_pandas import write_dims

    wh = Warehouse(str(tmp_path / "wh"))
    write_dims(spark, wh)
    assert wh.read(spark, "dim_location").schema == DIM_LOCATION_SCHEMA
    assert wh.read(spark, "dim_date").schema == DIM_DATE_SCHEMA


def test_main_event_wrapper_end_to_end(spark, lake_root, warehouse, tmp_path):
    """Reference-parity handler: {"extractDate": d} event + config
    object → full ETL into a fresh warehouse (app.py:106,202-205)."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.overwrite(warehouse.read(spark, "dim_location"), "dim_location")
    wh.overwrite(warehouse.read(spark, "dim_date"), "dim_date")
    cfg = AppConfig(lake_root=lake_root, warehouse_root=wh.root, as_of=AS_OF)
    resp = main({"extractDate": EXTRACT}, config=cfg, spark=spark)
    assert resp["statusCode"] == 200
    assert resp["counts"] == {
        "FACT_ANNUAL_EXPENSE": 3,
        "FACT_LIVING_WAGE": 2,
        "FACT_TYPICAL_ANNUAL_SALARY": 2,
    }
    assert wh.read(spark, "FACT_LIVING_WAGE").count() == 2


def test_main_rejects_bad_events(spark, lake_root, warehouse):
    cfg = AppConfig(lake_root=lake_root, warehouse_root=warehouse.root, as_of=AS_OF)
    with pytest.raises(ValueError, match="extractDate"):
        main({}, config=cfg, spark=spark)
    with pytest.raises(ValueError):
        main({"extractDate": "not-a-date"}, config=cfg, spark=spark)


def test_appconfig_from_env():
    cfg = AppConfig.from_env(
        {
            "LAKE_ROOT": "/lake",
            "WAREHOUSE_ROOT": "/wh",
            "AS_OF_DATE": "2024-06-01",
        }
    )
    assert cfg.lake_root == "/lake"
    assert cfg.state == "DE"
    assert cfg.as_of == dt.date(2024, 6, 1)
    with pytest.raises(KeyError, match="LAKE_ROOT"):
        AppConfig.from_env({"WAREHOUSE_ROOT": "/wh"})


def test_audited_read_quarantines_malformed_rows(spark, tmp_path):
    """PERMISSIVE lake read: clean rows parse, malformed lines land in
    the quarantine frame verbatim (the reference would silently corrupt
    or crash — app.py:29)."""
    from cost_of_living_data_etl_spark.sources.lake import read_lake_csv_audited

    d = tmp_path / LAKE_PREFIX / EXTRACT
    d.mkdir(parents=True)
    (d / "living_wage_bad.csv").write_text(
        "wage_level,num_adults,num_children,num_working,county,usd_amount\n"
        "LIVING WAGE,2,2,1,Kent,21.34\n"
        'LIVING WAGE,not_a_number,"unterminated,Sussex\n'
        "LIVING WAGE,1,0,1,Sussex,15.50\n"
    )
    clean, corrupt = read_lake_csv_audited(
        spark, str(tmp_path), "living_wage", EXTRACT
    )
    assert clean.count() == 2
    bad = corrupt.collect()
    assert len(bad) == 1
    assert "unterminated" in bad[0]["raw_line"]


def test_decimal_money_mode_is_exact_where_double_drifts(spark, tmp_path):
    """The decimal-money decision, demonstrated: 10_000 orders of 0.01
    sum to EXACTLY '100.00' in DECIMAL(12,2) mode (any aggregation
    order), while the double sum of the same column drifts off 100.0 —
    the property that matters on a cluster where partial-agg order is
    nondeterministic."""
    import pyspark.sql.functions as F

    from cost_of_living_data_etl_spark.sources.tables import (
        load_table_decimal_money,
    )

    spark.createDataFrame(
        [(i, "O", 0.01) for i in range(10_000)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    dec = load_table_decimal_money(spark, str(tmp_path), "orders")
    exact = dec.agg(
        F.sum("o_totalprice").cast("string").alias("s")
    ).collect()[0]["s"]
    assert exact == "100.00"

    dbl = (
        spark.read.parquet(f"{tmp_path}/orders.parquet")
        .agg(F.sum("o_totalprice").alias("s"))
        .collect()[0]["s"]
    )
    assert dbl != 100.0  # the drift decimal mode exists to eliminate
