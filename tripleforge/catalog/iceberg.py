"""Iceberg catalog implementation — the real-cluster config switch.

The sandbox ships no Iceberg runtime jar and has no network for
``--packages`` (SURVEY.md §0.4), so this class is import-guarded and
exercised only where ``spark.read.format("iceberg")`` resolves. The
pipeline's semantics (atomic snapshot commit, resume anti-join, time
travel) are identical to ParquetSnapshotCatalog by construction —
that's the point of the Catalog interface.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tripleforge.catalog.base import Catalog, stamp_lineage


class IcebergCatalog(Catalog):
    """Statements in ``<table>``, lineage in ``<table>_lineage``.

    Requires a session configured with an Iceberg catalog, e.g.::

        spark.sql.catalog.forge = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.forge.type = hive | hadoop | rest
    """

    n_buckets = None  # no graph_bucket column: reads are not bucket-pruned

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table
        self.lineage_table = table + "_lineage"

    def commit_snapshot(
        self,
        statements: DataFrame,
        lineage: pa.Table | Callable[[], pa.Table],
        run_id: str,
        operation: str = "append",
        replace_paths: list[str] | None = None,
        base_snapshot_id: int | None = None,
    ) -> int:
        # replace_paths is a parquet-snapshot concept; Iceberg's
        # overwritePartitions already replaces only the partitions the
        # write touches, so partition-scoped DELETE is native here, and
        # serializable validation from base_snapshot_id fails a commit
        # that conflicts with one published after the read.
        if operation == "overwrite" and base_snapshot_id is None:
            raise ValueError("an overwrite needs the base_snapshot_id it read")
        # Idempotence: skip if this run_id already committed.
        existing = (
            self.spark.read.table(self.lineage_table)
            .where(F.col("run_id") == run_id)
            .limit(1)
        )
        if existing.count() > 0:
            return int(existing.first()["snapshot_id"])
        writer = statements.writeTo(self.table)
        if operation == "overwrite":
            writer = writer.option("isolation-level", "serializable")
            if base_snapshot_id:
                writer = writer.option("validate-from-snapshot-id", str(base_snapshot_id))
            writer.overwritePartitions()
        else:
            writer.append()
        if callable(lineage):  # deferred lineage (base.Catalog contract)
            lineage = lineage()
        snap = (
            self.spark.sql(
                f"SELECT snapshot_id FROM {self.table}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).first()["snapshot_id"]
        )
        # the stamped rows are driver-resident: a LocalRelation append
        # (unverified — no Iceberg runtime jar is available to run it)
        self.spark.createDataFrame(stamp_lineage(lineage, run_id, snap)).writeTo(
            self.lineage_table
        ).append()
        return int(snap)

    def read_statements(self, snapshot_id: int | None = None) -> DataFrame:
        reader = self.spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(self.table)

    def read_lineage(self) -> DataFrame:
        return self.spark.read.table(self.lineage_table)

    def latest_snapshot_id(self) -> int | None:
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return int(row["snapshot_id"]) if row else None

    @staticmethod
    def table_ddl(table: str) -> str:
        """DDL for the statement table with graph-bucket partitioning —
        the Iceberg twin of ParquetSnapshotCatalog's layout (A20)."""
        return f"""
        CREATE TABLE IF NOT EXISTS {table} (
          subj string, pred string, obj string,
          obj_kind string, obj_dt string, obj_lang string,
          graph string,
          src_repo string, src_path string, src_commit string
        ) USING iceberg
        PARTITIONED BY (bucket(64, graph))
        """
