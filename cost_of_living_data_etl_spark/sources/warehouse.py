"""Warehouse source/sink.

The reference reads dims from and appends facts to Snowflake
(reference app.py:140,143,195-197). This engine's warehouse is a
parquet/Delta-style directory of tables: reads are plain scans with
Catalyst pushdown; writes are ``mode("append")`` — the same semantics
as the reference's ``write_pandas`` append-load.

In production the same API binds to JDBC / spark-snowflake by
swapping the format; pushdown of filters/projections into the remote
source is automatic for DSv2 connectors, which is what the reference
hand-encodes in its SQL strings (app.py:140,143, S5/S6).
"""

from __future__ import annotations

import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql.types import StructType



def _sql_literal(v) -> str:
    """Render a Python value as a Spark-SQL literal. repr() is NOT
    safe here: it picks Python-style quoting (double quotes around
    O'Brien, backslash escapes) that Spark SQL parses differently, so
    a right-to-be-forgotten sweep could silently miss rows. Strings
    get single quotes with '' doubling and backslash doubling (Spark
    accepts both escapes); ints/floats/bools render bare; None is
    rejected (NULL never matches an IN-list — a silent no-op the
    caller must not mistake for a deletion)."""
    if v is None:
        raise ValueError("forget_subject: None subject_id would never match")
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return f"'{s}'"


def _read_target_or_none(spark: SparkSession, target_path: str):
    """Read an upsert target, returning None ONLY when the table truly
    does not exist yet. Any other failure (permissions, a corrupt
    footer, transient FS errors) re-raises: treating it as
    "first write" would OVERWRITE the table with just the incoming
    batch and silently destroy history."""
    import os

    if not os.path.exists(target_path):
        return None
    try:
        return spark.read.parquet(target_path)
    except Exception as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise


class Warehouse:
    """A directory-of-parquet-tables warehouse with append semantics."""

    def __init__(self, root: str):
        self.root = root

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def read(
        self,
        spark: SparkSession,
        table: str,
        schema: StructType | None = None,
        fmt: str = "parquet",
    ) -> DataFrame:
        reader = spark.read.format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(self.path(table))

    def append(self, df: DataFrame, table: str, fmt: str = "parquet") -> None:
        """Append-load (reference app.py:195-197, S7). ``fmt`` covers
        the columnar formats Spark ships natively (parquet default,
        orc for Hive-ecosystem warehouses) — both get predicate
        pushdown and column pruning from the same declarative plan."""
        df.write.mode("append").format(fmt).save(self.path(table))

    def overwrite(self, df: DataFrame, table: str, fmt: str = "parquet") -> None:
        df.write.mode("overwrite").format(fmt).save(self.path(table))

    def append_partitioned(
        self, df: DataFrame, table: str, partition_cols: list[str]
    ) -> None:
        """Append-load into a hive-style partitioned layout.

        The reference encodes its date partition as an S3 prefix it
        lists by hand (app.py:26); writing ``partitionBy`` directories
        gives the same incremental-load layout AND automatic partition
        pruning on read — a query filtering on a partition column
        scans only that directory (PartitionFilters in the plan), the
        property that keeps per-snapshot queries O(snapshot) instead
        of O(history) as the warehouse accretes years of loads.
        """
        df.write.mode("append").partitionBy(*partition_cols).parquet(self.path(table))

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_cols: list[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the hive
        partitions present in ``df``, leaving all others untouched.

        This is the idempotent-backfill primitive the reference lacks:
        its append-only ``write_pandas`` (app.py:195-197) duplicates
        rows on every re-run of an extract date. With
        ``partitionOverwriteMode=dynamic``, re-running one
        ``extract_date`` rewrites exactly that directory — at 100 TB a
        day's reprocess costs one day's write, not a table rewrite,
        and is safe to retry.
        """
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(self.path(table))
        )

    def _swap_in(self, writer: DataFrameWriter, table: str) -> None:
        """Copy-on-write swap: write ``writer`` to a side directory, then
        remove ``table``'s directory and move the side directory into
        its place."""
        tmp_path = f"{self.root}/.staging-{table}-{uuid.uuid4().hex[:8]}"
        writer.parquet(tmp_path)
        shutil.rmtree(self.path(table))
        shutil.move(tmp_path, self.path(table))

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_files: int = 1,
        partition_cols: list[str] | None = None,
    ) -> None:
        """Small-file compaction: rewrite a table into ``target_files``
        files (one file per hive partition when ``partition_cols`` is
        given — each output task then owns whole partition values).

        Streaming/incremental appends accrete thousands of KB-sized
        files per partition; at 100 TB the resulting driver listing +
        per-file open overhead dominates scan time. The rewrite stages
        to a side directory before the swap (``_swap_in``, as in
        ``merge_upsert``). On Delta/Iceberg this binds to OPTIMIZE /
        rewrite_data_files.
        """
        df = spark.read.parquet(self.path(table))
        if partition_cols:
            compacted = df.repartition(*[F.col(c) for c in partition_cols])
            writer = compacted.write.mode("overwrite").partitionBy(*partition_cols)
        else:
            writer = df.repartition(target_files).write.mode("overwrite")
        self._swap_in(writer, table)

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        table: str,
        key_cols: list[str],
    ) -> None:
        """MERGE-style upsert: rows matching on ``key_cols`` are
        replaced by the update row, new keys are inserted.

        Parquet has no row-level MERGE, so this is the classic
        copy-on-write rewrite: target LEFT ANTI updates (drop stale
        versions of updated keys) UNION updates, staged to a side
        directory before an atomic-ish swap into place — the same
        plan Delta/Iceberg MERGE lowers to, minus the transaction log.
        The anti join broadcasts when the update batch is small
        (incremental loads at 100 TB: a day's delta vs years of
        history), so the rewrite is one scan of the target.

        On a real deployment this binds to ``MERGE INTO`` on a
        Delta/Iceberg catalog; the call signature is the contract.
        """
        target_path = self.path(table)
        staged = updates.select(*updates.columns)
        target = _read_target_or_none(spark, target_path)
        if target is None:
            staged.write.mode("overwrite").parquet(target_path)
            return
        merged = target.join(
            updates.select(*key_cols).dropDuplicates(key_cols),
            on=key_cols,
            how="left_anti",
        ).unionByName(staged)
        self._swap_in(merged.write.mode("overwrite"), table)

    def delete_where(
        self,
        spark: SparkSession,
        table: str,
        predicate: str,
    ) -> dict:
        """Row-level DELETE (copy-on-write): rewrite the table without
        rows matching ``predicate``; returns an audit dict
        {"before": n, "deleted": n, "after": n}. Idempotent — a
        re-run deletes 0 and rewrites nothing.

        Parquet has no row-level delete, so like merge_upsert this is
        the rewrite Delta/Iceberg DELETE lowers to, minus the log. At
        100 TB bind it to a catalog DELETE; the audit contract (the
        numbers a privacy officer files) is what this layer owns.
        """
        target_path = self.path(table)
        target = _read_target_or_none(spark, target_path)
        if target is None:
            return {"before": 0, "deleted": 0, "after": 0}
        before = target.count()
        kept = target.filter(f"NOT ({predicate})")
        after = kept.count()
        if after == before:
            return {"before": before, "deleted": 0, "after": after}
        self._swap_in(kept.write.mode("overwrite"), table)
        return {"before": before, "deleted": before - after, "after": after}

    def forget_subject(
        self,
        spark: SparkSession,
        subject_col_by_table: dict[str, str],
        subject_ids: list,
    ) -> dict[str, dict]:
        """Right-to-be-forgotten propagation: delete every row whose
        subject column is in ``subject_ids`` across ALL the mapped
        tables, returning the per-table audit the deletion request
        needs ({table: {"before", "deleted", "after"}}).

        One `delete_where` per table — each an independent
        copy-on-write rewrite, so a crash mid-sweep leaves completed
        tables deleted and the re-run (idempotent per table) finishes
        the rest; the audit shows exactly which tables still carried
        the subject. Scale shape: the predicate is an IN-list pushed
        to the parquet scan (deletion batches are thousands of ids —
        broadcastable), so each rewrite is one filtered scan + write.
        """
        quoted = ", ".join(_sql_literal(v) for v in subject_ids)
        return {
            table: self.delete_where(
                spark, table, f"{col} IN ({quoted})"
            )
            for table, col in sorted(subject_col_by_table.items())
        }

    def save_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        n_buckets: int = 16,
    ) -> None:
        """Save as a bucketed managed table (requires a table catalog).

        Bucketing pre-shuffles data by the join/aggregation key at
        WRITE time: two tables bucketed on the same key with the same
        bucket count join with ZERO exchanges — the repeated-join cost
        at 100 TB moves from every query to one load. Uses
        ``saveAsTable`` with an explicit path so the data stays inside
        this warehouse directory.
        """
        (
            df.write.mode("overwrite")
            .option("path", self.path(table))
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .format("parquet")
            .saveAsTable(table)
        )

    def scd2_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        table: str,
        key_cols: list[str],
        change_cols: list[str],
        as_of: str,
    ) -> None:
        """Slowly-changing-dimension Type 2 merge: attribute changes
        CLOSE the current version (``valid_to = as_of``,
        ``is_current = false``) and open a new one, instead of
        overwriting history.

        The reference's dims are static lookups (app.py:140) — when a
        county is re-mapped its history is silently lost. SCD2 is the
        standard warehouse answer; this is the copy-on-write plan
        Delta's ``MERGE WHEN MATCHED``/``WHEN NOT MATCHED`` lowers to:

        - unchanged / historical rows pass through untouched,
        - current rows whose ``change_cols`` differ from the incoming
          row are closed,
        - changed + brand-new keys insert an open version
          (``valid_from = as_of``, ``valid_to = null``).

        Scale shape: one scan of the target joined (broadcast when the
        delta is small — the normal case) against the update batch; a
        dimension rewrite is MBs-to-GBs even when facts are 100 TB.
        Idempotent for the same ``as_of``: re-running with an already-
        applied batch changes nothing (the change predicate is false).
        """
        target_path = self.path(table)
        open_updates = (
            updates.withColumn("valid_from", F.lit(as_of).cast("date"))
            .withColumn("valid_to", F.lit(None).cast("date"))
            .withColumn("is_current", F.lit(True))
        )
        target = _read_target_or_none(spark, target_path)
        if target is None:
            open_updates.write.mode("overwrite").parquet(target_path)
            return

        change_pred = None  # any tracked attribute differs (null-safe)
        for c in change_cols:
            p = ~F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}"))
            change_pred = p if change_pred is None else (change_pred | p)

        cur = target.filter(F.col("is_current")).alias("cur")
        upd = F.broadcast(updates.alias("upd"))
        on = [F.col(f"cur.{k}") == F.col(f"upd.{k}") for k in key_cols]

        # current rows with a differing incoming version → close them
        closed = (
            cur.join(upd, on, "inner")
            .filter(change_pred)
            .select("cur.*")
            .withColumn("valid_to", F.lit(as_of).cast("date"))
            .withColumn("is_current", F.lit(False))
        )
        # current rows to keep verbatim: no incoming row, or unchanged
        kept_current = cur.join(
            upd.filter(F.lit(True)), on, "left_anti"
        ).unionByName(
            cur.join(upd, on, "inner").filter(~change_pred).select("cur.*")
        )
        historical = target.filter(~F.col("is_current"))

        # incoming rows that actually open a new version: new keys, or
        # keys whose current row differs
        new_keys = upd.join(cur, on, "left_anti").select("upd.*")
        changed_new = (
            upd.join(cur, on, "inner").filter(change_pred).select("upd.*")
        )
        opened = (
            new_keys.unionByName(changed_new)
            .withColumn("valid_from", F.lit(as_of).cast("date"))
            .withColumn("valid_to", F.lit(None).cast("date"))
            .withColumn("is_current", F.lit(True))
        )

        merged = (
            historical.unionByName(kept_current)
            .unionByName(closed)
            .unionByName(opened)
        )
        self._swap_in(merged.write.mode("overwrite"), table)

    def append_evolve(
        self,
        spark: SparkSession,
        df: DataFrame,
        table: str,
        policy: str = "strict",
    ) -> None:
        """Append with an explicit schema-drift policy.

        The reference's append-load (app.py:195-197) writes whatever
        columns the day's CSVs happened to have; on upstream drift the
        warehouse table silently becomes a mix of incompatible files
        that breaks (or worse, half-reads) later. Plain
        ``mode("append").parquet`` has the same hole: parquet footers
        are per-file, so nothing checks the incoming batch against the
        table. This method closes it at the ONLY cheap place — write
        time, against the table's current schema (one footer read, no
        data scan):

        - ``policy="strict"``: the incoming schema must equal the
          table's (names, types, order-insensitive). Any drift raises
          before a single row lands.
        - ``policy="add_nullable"``: the batch may ADD new columns
          (readers see null for old files) and may OMIT existing
          columns (written as typed nulls). The batch is aligned to
          the UNION schema so every new file carries the full, current
          schema — drift is absorbed forward, never backward.
        - A TYPE change for an existing column is rejected under every
          policy: that is a rewrite migration, not an append
          (silently mixing int32/int64 files is how tables die at
          100 TB — the error names the column instead).

        Read evolved tables with :meth:`read_evolved` (footer-merged
        union schema; old files surface null for later columns).
        """
        from pyspark.sql.types import NullType

        if policy not in ("strict", "add_nullable"):
            raise ValueError(f"unknown schema policy: {policy!r}")
        target = _read_target_or_none(spark, self.path(table))
        if target is None:
            self.append(df, table)
            return
        # the gate must compare against the table's UNION schema: after
        # a prior evolution the files span generations, and a plain
        # read samples an arbitrary footer — a nondeterministic gate
        # that could also align a batch against a stale column set
        target = self.read_evolved(spark, table)
        have = {f.name: f.dataType for f in target.schema.fields}
        incoming = {f.name: f.dataType for f in df.schema.fields}
        changed = sorted(
            n for n in have.keys() & incoming.keys() if have[n] != incoming[n]
        )
        if changed:
            details = ", ".join(
                f"{n}: {have[n].simpleString()} -> {incoming[n].simpleString()}"
                for n in changed
            )
            raise ValueError(
                f"type change on append to '{table}' ({details}); "
                "appends never change a column's type - run a rewrite "
                "migration instead"
            )
        added = sorted(incoming.keys() - have.keys())
        missing = sorted(have.keys() - incoming.keys())
        if policy == "strict" and (added or missing):
            raise ValueError(
                f"schema drift on append to '{table}' "
                f"(added={added}, missing={missing}) rejected by "
                "policy='strict'; use policy='add_nullable' to evolve"
            )
        if any(isinstance(incoming[n], NullType) for n in added):
            raise ValueError(
                "new columns must carry a real type (got NullType); "
                "cast the column before appending"
            )
        # align to union schema: table columns first (missing ones as
        # typed nulls), genuinely new columns after
        aligned = df.select(
            *[
                F.col(f.name)
                if f.name in incoming
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.schema.fields
            ],
            *[F.col(n) for n in added],
        )
        self.append(aligned, table)

    def read_evolved(self, spark: SparkSession, table: str) -> DataFrame:
        """Read a table whose files may span schema generations:
        footer-merged union schema, null-filled for columns a file
        predates. Footer merging scans metadata only, but at millions
        of files it is real planning cost — evolved tables at scale
        should pin the latest schema via ``read(schema=...)`` instead
        (parquet fills absent columns with null when given an explicit
        schema)."""
        return spark.read.option("mergeSchema", "true").parquet(self.path(table))

    def save_sorted(
        self,
        df: DataFrame,
        table: str,
        sort_cols: list[str],
        n_files: int = 8,
    ) -> None:
        """Range-clustered, sorted-within-file layout for data
        skipping: rows are range-partitioned on ``sort_cols`` (each
        output file owns a contiguous key range) and sorted inside
        each file (each parquet ROW GROUP owns a sub-range).

        Selective filters on the sort key then prune at two levels
        with zero query-side cost: non-matching files are skipped via
        their footer min/max, and inside the one matching file the
        reader skips non-matching row groups. On a 100 TB fact table
        this turns point/range lookups from full scans into a handful
        of row groups — the poor man's Z-order, and the single highest-
        leverage layout decision after partitioning. Verified by scan
        numOutputRows in tests/test_warehouse_layout.py.
        """
        (
            df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(self.path(table))
        )
