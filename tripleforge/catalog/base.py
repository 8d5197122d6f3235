"""Catalog interface (SURVEY.md §7.4).

BASELINE.json mandates "materializing deduplicated named-graph
partitions into Iceberg tables ... a failed run resumes from the last
committed Iceberg snapshot checkpoint". The sandbox has no Iceberg
runtime jar and no network (SURVEY §0.4), so the engine programs
against this thin interface: ``ParquetSnapshotCatalog`` implements
Iceberg-equivalent snapshot semantics over plain Parquet + an atomic
JSON snapshot log; ``IcebergCatalog`` is the config switch used on a
real cluster where the jar exists.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections.abc import Callable

from pyspark.sql import DataFrame


class Catalog(ABC):
    """Snapshot-versioned statement store with lineage."""

    @abstractmethod
    def commit_snapshot(
        self,
        statements: DataFrame,
        lineage: DataFrame | Callable[[], DataFrame],
        run_id: str,
        operation: str = "append",
        replace_paths: list[str] | None = None,
    ) -> int:
        """Atomically commit statements + their lineage rows as one new
        snapshot; returns the snapshot id. Idempotent per ``run_id``:
        re-committing an already-committed run is a no-op (returns the
        existing id) — the resume safety property (A22). For
        ``operation="overwrite"``, ``replace_paths`` lists prior live
        paths to CARRY into the new snapshot (partition-scoped
        overwrite); None replaces everything.

        ``lineage`` may be a zero-arg callable resolved AFTER the
        statement write: callers attach ``df.observe()`` counters to
        the statement plan and derive lineage rows from them, so one
        scan feeds both the data files and the metrics (VERDICT r2:
        count-then-write read every touched bucket twice). An
        idempotent re-commit writes nothing and never calls it, so a
        caller reads such counters only if its callable ran."""

    @abstractmethod
    def read_statements(self, snapshot_id: int | None = None) -> DataFrame:
        """All live statements as of ``snapshot_id`` (default: latest)."""

    @abstractmethod
    def read_lineage(self) -> DataFrame:
        """All committed lineage rows."""

    @abstractmethod
    def latest_snapshot_id(self) -> int | None: ...

    def committed_units(self) -> DataFrame:
        """Distinct (repo, commit) already committed — the resume
        anti-join's right side (A22)."""
        return self.read_lineage().select("repo", "commit").dropDuplicates()
