"""The benchmark's workloads: what one op is, how a pass is made of
ops, how each op's output is checked, and the per-layer probes.

Every call into the engine is wrapped in a span named after the layer
it enters (``plans.build``, ``sources.append``, ``operators.cc``...);
``run.py`` turns the spans into metrics.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from pathlib import Path

import checks

#: Catalog workloads: the queries one pass runs, each once, in an order
#: drawn from the seed.
CATALOG_OPS = {
    "dedup_chain": [
        "q_dedup_clusters",
        "q_lsh_blocking_quality",
    ],
}

#: (table, parallel) pairs the dedup queries scan, with the flag they
#: pass to ``load_table``.
DEDUP_SCANS = [("documents", True), ("documents", False), ("embeddings", False)]

#: etl_append: rows per lake category per extract date.
ETL_ROWS = 200_000
ETL_FIRST_DATE = dt.date(2024, 7, 1)
FACTS = ["FACT_ANNUAL_EXPENSE", "FACT_LIVING_WAGE", "FACT_TYPICAL_ANNUAL_SALARY"]


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_files(root: Path) -> dict[str, int]:
    """Data files under ``root`` (hidden and ``_``-prefixed marker
    files left out) -> size in bytes."""
    if not root.exists():
        return {}
    return {
        str(p): p.stat().st_size
        for p in root.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    }


class CatalogWorkload:
    """Registered catalog queries on generated fixture tables. An op
    builds one query's plan and writes it to the noop sink. In the
    warm-up passes it collects the result instead, which is compared
    with the stored oracle result."""

    def __init__(self, name: str, work: Path, seed: int):
        self.name = name
        self.queries = CATALOG_OPS[name]
        self.work = work
        self.seed = seed

    def prepare(self) -> None:
        self.sf_dir = checks.fixture_dir(self.work)
        checks.check_fixtures(self.sf_dir)
        self.sf = str(self.sf_dir)

    def setup(self, spark) -> None:
        from cost_of_living_data_etl_spark.plans.catalog import catalog

        self.specs = catalog()

    def pass_ops(self, index: int) -> list[str]:
        ops = list(self.queries)
        random.Random(self.seed * 1009 + index).shuffle(ops)
        return ops

    def run_op(self, spark, tracer, op: str, plan: bool, warmup: bool):
        with tracer.span("plans.build"):
            df = self.specs[op].fn(spark, self.sf)
        if plan:
            with tracer.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("plans.act"):
            if warmup:
                return df.toPandas()
            noop_write(df)
        return None

    def check_op(self, op: str, result) -> str | None:
        if result is None:
            return None
        return checks.mismatch(result, checks.load_expected(op))

    def probes(self, spark, tracer) -> dict[str, float]:
        import pyspark.sql.functions as F

        from cost_of_living_data_etl_spark.operators.dedup import (
            minhash_signatures,
            neardup_pairs_from_sigs,
        )
        from cost_of_living_data_etl_spark.operators.similarity import fit_quantizer
        from cost_of_living_data_etl_spark.plans.round5 import star_components
        from cost_of_living_data_etl_spark.plans.structural import setsim_pairs
        from cost_of_living_data_etl_spark.sources.tables import load_table

        for table, parallel in DEDUP_SCANS:
            with tracer.span("sources.scan"):
                noop_write(load_table(spark, self.sf, table, parallel=parallel))

        docs = load_table(spark, self.sf, "documents", parallel=True)
        with tracer.span("operators.minhash"):
            sigs = minhash_signatures(docs).localCheckpoint()
        with tracer.span("operators.lsh_pairs"):
            noop_write(neardup_pairs_from_sigs(sigs))
        pairs = neardup_pairs_from_sigs(sigs).select("doc_id_1", "doc_id_2").localCheckpoint()
        nodes = load_table(spark, self.sf, "documents").select(F.col("doc_id").alias("id"))
        with tracer.span("operators.cc"):
            noop_write(star_components(nodes, pairs))
        with tracer.span("operators.setsim"):
            noop_write(setsim_pairs(load_table(spark, self.sf, "documents")))
        with tracer.span("operators.quantizer_fit"):
            fit_quantizer(spark, self.sf, str(self.work / "tmp" / "quantizer"))
        return {}

    def finish(self, spark) -> tuple[dict[str, float], list[str]]:
        return {}, []


class EtlWorkload:
    """The paper's job: each op is one ``app.main`` call that loads a
    new extract date of lake CSVs into one parquet warehouse. The CSVs
    are generated once per run from the seed and published under each
    op's date. Every op's per-fact counts are checked against the
    reference-shaped pandas pipeline on the same CSVs."""

    name = "etl_append"

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.root = work / "etl"
        self.lake = self.root / "lake"
        self.wh_root = self.root / "warehouse"
        self.loaded: dict[str, dict[str, int]] = {}
        self.next_date = 0

    def prepare(self) -> None:
        """Generate the seeded lake CSVs of one extract date and the
        pandas pipeline's per-fact counts for them."""
        from tools.bench_etl_vs_pandas import EXTRACT_DATE, gen_lake, pandas_etl

        shutil.rmtree(self.root, ignore_errors=True)
        stage = self.root / "stage"
        gen_lake(str(stage / "lake"), ETL_ROWS, seed=self.seed)
        (stage / "pandas").mkdir()
        self.expected = pandas_etl(str(stage / "lake"), str(stage / "pandas"))
        self.source = stage / "lake" / "real_estate" / "cost_of_living" / EXTRACT_DATE
        self.csv_bytes = sum(tree_files(self.source).values())

    def _new_date(self) -> str:
        """Publish the generated CSVs under the next unused extract
        date (hard links: no copy) and return that date."""
        date = (ETL_FIRST_DATE + dt.timedelta(days=self.next_date)).isoformat()
        self.next_date += 1
        dest = self.lake / "real_estate" / "cost_of_living" / date
        dest.mkdir(parents=True)
        for f in self.source.iterdir():
            os.link(f, dest / f.name)
        return date

    def setup(self, spark) -> None:
        import pyspark.sql.functions as F

        from cost_of_living_data_etl_spark.app import AppConfig
        from cost_of_living_data_etl_spark.sources.warehouse import Warehouse
        from tools.bench_etl_vs_pandas import AS_OF, dims

        self.config = AppConfig(
            lake_root=str(self.lake), warehouse_root=str(self.wh_root), as_of=AS_OF
        )
        wh = Warehouse(str(self.wh_root))
        dim_location, dim_date = dims()
        wh.overwrite(spark.createDataFrame(dim_location), "dim_location")
        wh.overwrite(
            spark.createDataFrame(dim_date).withColumn("DATE", F.col("DATE").cast("date")),
            "dim_date",
        )

    def pass_ops(self, index: int) -> list[str]:
        return [self._new_date()]

    def run_op(self, spark, tracer, op: str, plan: bool, warmup: bool):
        from cost_of_living_data_etl_spark.app import main

        # app.main builds the pipeline and runs its three appends in one call
        with tracer.span("plans.act"):
            counts = main({"extractDate": op}, config=self.config, spark=spark)["counts"]
        self.loaded[op] = counts
        return counts

    def check_op(self, op: str, counts) -> str | None:
        want = self.expected
        return None if counts == want else f"counts {counts} != pandas {want}"

    def probes(self, spark, tracer) -> dict[str, float]:
        from cost_of_living_data_etl_spark.plans.etl import build_pipeline
        from cost_of_living_data_etl_spark.sources.lake import read_lake_csv
        from cost_of_living_data_etl_spark.sources.warehouse import Warehouse
        from tools.bench_etl_vs_pandas import AS_OF

        date = self._new_date()
        for category in ("living_wage", "expenses", "typical_salaries"):
            with tracer.span("sources.lake_read"):
                noop_write(read_lake_csv(spark, str(self.lake), category, date))

        wh = Warehouse(str(self.wh_root))
        facts = build_pipeline(
            spark, str(self.lake), date,
            wh.read(spark, "dim_location"), wh.read(spark, "dim_date"), as_of=AS_OF,
        )
        probe_root = self.root / "probe_warehouse"
        probe = Warehouse(str(probe_root))
        before = tree_files(probe_root)
        for table in FACTS:
            with tracer.span("sources.append"):
                probe.append(getattr(facts, table.lower()), table)
        added = {p: n for p, n in tree_files(probe_root).items() if p not in before}
        return {
            "sources.bytes_written": sum(added.values()),
            "sources.files_written": len(added),
        }

    def finish(self, spark) -> tuple[dict[str, float], list[str]]:
        """Row counts stored in the warehouse against the counts the
        loads reported, and stored bytes per lake CSV byte loaded."""
        from cost_of_living_data_etl_spark.sources.warehouse import Warehouse

        wh = Warehouse(str(self.wh_root))
        problems = []
        for table in FACTS:
            stored = wh.read(spark, table).count()
            reported = sum(c[table] for c in self.loaded.values())
            if stored != reported:
                problems.append(f"{table}: {stored} rows stored, {reported} reported")
        stored_bytes = sum(
            sum(tree_files(self.wh_root / t).values()) for t in FACTS
        )
        input_bytes = self.csv_bytes * len(self.loaded)
        return {"sources.stored_bytes_per_input_byte": stored_bytes / input_bytes}, problems


def make(name: str, work: Path, seed: int):
    if name == EtlWorkload.name:
        return EtlWorkload(work, seed)
    if name in CATALOG_OPS:
        return CatalogWorkload(name, work, seed)
    raise ValueError(f"unknown workload {name!r}; choose from {workload_names()}")


def workload_names() -> list[str]:
    return sorted([*CATALOG_OPS, EtlWorkload.name])
