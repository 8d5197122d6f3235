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
from pyspark.sql import functions as F

from tripleforge.io import N_GRAPH_BUCKETS
from tripleforge.schema import LINEAGE


class Catalog(ABC):
    """Snapshot-versioned statement store with lineage.

    Every write goes through :meth:`commit_snapshot`. Writers hand it
    lineage rows of ``(repo, commit, parser, n_files, n_triples,
    n_errors, checksum)`` only; the catalog stamps ``run_id``,
    ``snapshot_id`` and ``committed_at`` and projects to
    ``schema.LINEAGE`` (:func:`stamp_lineage`), so ``read_lineage`` has
    one shape whatever kind of commit came first.

    Reads are typed: :meth:`read_statements` and :meth:`read_lineage`
    pass their declared schema, so building the DataFrame runs no
    schema-inference job (every SPARQL read and update starts with one).

    The layout is declared here too: ``n_buckets`` is the graph-bucket
    modulus of the statement layout (read pruning must use the same
    one), and :meth:`live_paths` lists the live data paths of a
    path-addressed catalog, or is None for one that is not (Iceberg),
    in which case mutations cannot carry paths over and rewrite what
    they read. A live path's ``key=value`` segments are partition
    columns of :meth:`read_statements`, so a mutation can read or
    rewrite single paths."""

    n_buckets: int = N_GRAPH_BUCKETS

    @abstractmethod
    def commit_snapshot(
        self,
        statements: DataFrame,
        lineage: DataFrame | Callable[[], DataFrame],
        run_id: str,
        operation: str = "append",
        replace_paths: list[str] | None = None,
        base_snapshot_id: int | None = None,
    ) -> int:
        """Atomically commit statements + their lineage rows as one new
        snapshot; returns the snapshot id. Idempotent per ``run_id``:
        re-committing an already-committed run is a no-op (returns the
        existing id) — the resume safety property (A22). For
        ``operation="overwrite"``, ``replace_paths`` lists prior live
        paths to CARRY into the new snapshot (partition-scoped
        overwrite); None replaces everything. An overwrite must pass
        ``base_snapshot_id``, the snapshot it read (0: the empty store):
        a snapshot published after it raises a conflict instead of being
        dropped.

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
        """All committed lineage rows, with the ``schema.LINEAGE`` columns."""

    @abstractmethod
    def latest_snapshot_id(self) -> int | None: ...

    def live_paths(self, snapshot_id: int | None = None) -> list[str] | None:
        """Live data paths as of ``snapshot_id`` (default: latest), like
        :meth:`read_statements` (Hive-style: their ``key=value``
        segments are partition values of the rows under them); None
        when the catalog is not path-addressed."""
        return None

    def committed_units(self) -> DataFrame:
        """Distinct (repo, commit) already committed — the resume
        anti-join's right side (A22)."""
        return self.read_lineage().select("repo", "commit").dropDuplicates()


def stamp_lineage(lineage: DataFrame, run_id: str, snapshot_id: int) -> DataFrame:
    """A writer's lineage rows with the commit's ``run_id``,
    ``snapshot_id`` and ``committed_at`` stamped on, projected to
    ``schema.LINEAGE``."""
    stamps = {
        "run_id": F.lit(run_id),
        "snapshot_id": F.lit(snapshot_id).cast("long"),
        "committed_at": F.current_timestamp(),
    }
    # writers' columns pass through by name: one projection, no per-column casts
    return lineage.select(
        *[stamps[n].alias(n) if n in stamps else n for n in LINEAGE.fieldNames()]
    )
