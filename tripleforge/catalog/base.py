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

import time
from abc import ABC, abstractmethod
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from tripleforge.io import N_GRAPH_BUCKETS
from tripleforge.schema import LINEAGE


class Catalog(ABC):
    """Snapshot-versioned statement store with lineage.

    Every write goes through :meth:`commit_snapshot`. Writers hand it
    lineage rows of ``(repo, commit, parser, n_files, n_triples,
    n_errors, checksum)`` only, as a ``pa.Table`` on the driver; the
    catalog stamps ``run_id``, ``snapshot_id`` and ``committed_at`` and
    projects to ``schema.LINEAGE`` (:func:`stamp_lineage`), so
    ``read_lineage`` has one shape whatever kind of commit came first.

    Reads are typed: :meth:`read_statements` and :meth:`read_lineage`
    pass their declared schema, so building the DataFrame runs no
    schema-inference job (every SPARQL read and update starts with one).

    The layout is declared here too: ``n_buckets`` is the graph-bucket
    modulus of the statement layout (read pruning must use the same
    one), None without a ``graph_bucket`` column (Iceberg: no bucket
    pruning), and :meth:`live_paths` lists the live data paths of a
    path-addressed catalog, or is None for one that is not (Iceberg),
    in which case mutations cannot carry paths over and rewrite what
    they read. A live path's ``key=value`` segments are partition
    columns of :meth:`read_statements`, so a mutation can read or
    rewrite single paths."""

    n_buckets: int | None = N_GRAPH_BUCKETS

    @abstractmethod
    def commit_snapshot(
        self,
        statements: DataFrame,
        lineage: pa.Table | Callable[[], pa.Table],
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

        ``lineage`` is a handful of rows on the driver (a ``pa.Table``),
        or a zero-arg callable returning one, resolved once AFTER the
        statement write: callers attach ``df.observe()`` counters to
        the statement plan, or aggregate a frame the write has just
        cached, and derive the rows from that, so one scan feeds both
        the data files and the metrics (VERDICT r2: count-then-write
        read every touched bucket twice). An idempotent re-commit
        writes nothing and never calls it. The rows are stamped per
        snapshot id they are published under (a commit that rebases
        onto a newer parent re-stamps the same rows; it never
        re-evaluates them) and written from the driver, with no Spark
        job."""

    @abstractmethod
    def read_statements(self, snapshot_id: int | None = None) -> DataFrame:
        """All live statements as of ``snapshot_id`` (default: latest).
        Every call returns a DataFrame of its own, so a caller may
        combine two reads (a mutation joins its rewrite with rows it
        read before)."""

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


# schema.LINEAGE in Arrow: timestamps as UTC microseconds, which Spark
# reads back as its TimestampType
_LINEAGE_ARROW = to_arrow_schema(LINEAGE)


def stamp_lineage(lineage: pa.Table, run_id: str, snapshot_id: int) -> pa.Table:
    """A writer's lineage rows with the commit's ``run_id``,
    ``snapshot_id`` and ``committed_at`` stamped on, projected to
    ``schema.LINEAGE`` (the writers' columns pass through by name)."""
    n = lineage.num_rows
    stamps = {
        "run_id": pa.array([run_id] * n, pa.string()),
        "snapshot_id": pa.array([snapshot_id] * n, pa.int64()),
        "committed_at": pa.array([int(time.time() * 1e6)] * n, pa.int64()),
    }
    return pa.table(
        [
            (stamps[f.name] if f.name in stamps else lineage[f.name]).cast(f.type)
            for f in _LINEAGE_ARROW
        ],
        schema=_LINEAGE_ARROW,
    )
