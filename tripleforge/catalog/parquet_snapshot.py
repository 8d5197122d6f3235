"""Iceberg-like snapshot catalog over plain Parquet (SURVEY.md §7.4).

Layout under ``root``::

    data/snap=<id>/graph_bucket=<b>/*.parquet   statement data files
    lineage/snap=<id>/*.parquet                 lineage rows of snapshot
    _snapshots/v<id>.json                       snapshot manifest

Commit protocol (exactly-once without Iceberg):
1. data + lineage are written to snapshot-scoped directories — never
   touched again (immutable, like Iceberg data files);
2. the manifest (listing the COMPLETE live data-path set after this
   snapshot, Iceberg-style) is written to a temp name and
   ``os.rename``-ed into place — atomic on POSIX;
3. readers resolve the latest ``v*.json`` by file name, parse only
   that manifest and read exactly its ``live_paths`` — a torn/failed
   run's orphan directories are invisible because no manifest
   references them;
4. idempotence: a manifest with the same ``run_id`` short-circuits
   re-commit, so a retried driver can't double-append (A22).

Snapshot isolation, time travel (``snapshot_id=``), append and
overwrite ops — the subset of Iceberg semantics the pipeline needs.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tripleforge.catalog.base import Catalog, stamp_lineage
from tripleforge.io import N_GRAPH_BUCKETS, with_graph_bucket
from tripleforge.schema import LINEAGE, STATEMENT


class ConcurrentOverwriteError(RuntimeError):
    """An overwrite commit raced a concurrent commit: its replace_paths
    and anti-joins were computed against a live set that is no longer
    the latest. The mutation must be retried from scratch against the
    new snapshot — rebasing the manifest alone would silently drop the
    concurrent commit's data (ADVICE r2)."""

    def __init__(self, sid: int, other: int):
        super().__init__(
            f"overwrite snapshot {sid} conflicts with concurrently "
            f"published snapshot {other}; retry the mutation against "
            "the latest snapshot"
        )
        self.sid = sid
        self.conflicting = other


_MANIFEST = re.compile(r"v(\d+)\.json")


class ParquetSnapshotCatalog(Catalog):
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = N_GRAPH_BUCKETS):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        # (live paths, the DataFrame resolved over them): the last read,
        # kept so reads between two commits list and analyze it once
        self._kept: tuple[tuple[str, ...], DataFrame] | None = None
        os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)
        # the PHYSICAL layout's bucket count always wins over the ctor
        # arg — graph_bucket pruning computed with the wrong modulus
        # would silently drop rows (manifest records it at commit time)
        m = self._manifest_for(None)
        if m is not None and "n_buckets" in m:
            self.n_buckets = m["n_buckets"]

    # --- manifest helpers ---------------------------------------------------
    def _snap_dir(self) -> str:
        return os.path.join(self.root, "_snapshots")

    def _ids(self) -> list[int]:
        """Published snapshot ids, ascending, from the manifest file
        names: choosing a manifest parses none of them."""
        return sorted(
            int(m.group(1)) for f in os.listdir(self._snap_dir())
            if (m := _MANIFEST.fullmatch(f))
        )

    def _load(self, sid: int) -> dict:
        with open(os.path.join(self._snap_dir(), f"v{sid}.json")) as fh:
            return json.load(fh)

    def latest_snapshot_id(self) -> int | None:
        ids = self._ids()
        return ids[-1] if ids else None

    def _manifest_for(self, snapshot_id: int | None) -> dict | None:
        """The manifest of the latest snapshot at or before
        ``snapshot_id`` (default: the latest), the one file parsed."""
        while True:
            ids = [i for i in self._ids() if snapshot_id is None or i <= snapshot_id]
            if not ids:
                return None
            try:
                return self._load(ids[-1])
            except FileNotFoundError:
                continue  # retracted by a committer's gap check: list again

    def _committed_sid(self, run_id: str) -> int | None:
        """The snapshot ``run_id`` already committed, or None. Manifests
        are written by ``json.dump`` with its default separators, so only
        one whose text holds the run id's field is parsed."""
        field = '"run_id": ' + json.dumps(run_id)
        for sid in self._ids():
            try:
                with open(os.path.join(self._snap_dir(), f"v{sid}.json")) as fh:
                    text = fh.read()
            except FileNotFoundError:
                continue
            if field in text and (m := json.loads(text))["run_id"] == run_id:
                return m["snapshot_id"]
        return None

    # --- commit --------------------------------------------------------------
    def _reserve_sid(self, after: int | None) -> int:
        """Exclusive-create a reservation marker for the first free id
        above ``after`` (None: the empty store) so two concurrent
        committers (e.g. build and compact_links) can never share a
        snapshot id — ADVICE r1: a plain ``os.rename`` of the manifest
        silently clobbered the loser's commit. A crash after reserving
        just burns an id (the orphan marker is skipped forever)."""
        sid = (after or 0) + 1
        while True:
            try:
                fd = os.open(
                    os.path.join(self._snap_dir(), f".reserve.v{sid}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                return sid
            except FileExistsError:
                sid += 1

    def commit_snapshot(
        self,
        statements: DataFrame,
        lineage: pa.Table | Callable[[], pa.Table],
        run_id: str,
        operation: str = "append",
        replace_paths: list[str] | None = None,
        base_snapshot_id: int | None = None,
    ) -> int:
        if operation == "overwrite" and base_snapshot_id is None:
            raise ValueError("an overwrite needs the base_snapshot_id it read")
        done = self._committed_sid(run_id)
        if done is not None:
            return done  # idempotent re-commit
        sid = self._reserve_sid(self.latest_snapshot_id())

        data_rel = f"data/snap={sid}"
        data_path = os.path.join(self.root, data_rel)
        (
            with_graph_bucket(statements.selectExpr(*STATEMENT.fieldNames()), self.n_buckets)
            # hash on the bucket with no fixed count: each bucket still
            # lands in exactly one task (one file per graph_bucket dir),
            # while AQE coalesces the spark.sql.shuffle.partitions-wide
            # exchange to as many tasks as the data needs — a small
            # write is not n_buckets tasks, and a cluster-scale one is
            # bounded by the shuffle width rather than n_buckets
            .repartition(F.col("graph_bucket"))
            # sort by subject within each bucket file: parquet row-group
            # min/max stats become tight subject ranges, so bound-subject
            # scans (DESCRIBE, <s> ?p ?o patterns) skip whole row groups
            # — free at read time, one in-partition sort at write time
            .sortWithinPartitions("graph_bucket", "subj")
            .write.partitionBy("graph_bucket")
            .mode("errorifexists")
            .parquet(data_path)
        )
        # deferred lineage (base.Catalog contract): resolved only now,
        # after the statement write, so df.observe() counters attached
        # to the statement plan are available — one scan, not two — and
        # only once: a rebase below re-stamps these rows
        if callable(lineage):
            lineage = lineage()
        # live paths are recorded at graph_bucket granularity so an
        # overwrite can replace only the buckets a mutation touched
        # (partition-scoped DELETE/compaction — the Iceberg twin's
        # partition-level overwrite)
        new_paths = sorted(
            f"{data_rel}/{d}"
            for d in os.listdir(data_path)
            if d.startswith("graph_bucket=")
        )
        lineage_rel = self._write_lineage(lineage, run_id, sid)

        # publish-then-validate (ADVICE r2): the parent is re-read AFTER
        # the data write, the manifest is hard-linked into place, and
        # the published-ids set is re-checked — if a concurrent commit
        # landed between our parent and our sid, an append REBASES its
        # live_paths onto the fresh parent and republishes (appends only
        # ever add paths, so the merge is trivially correct), while an
        # overwrite must abort if anything published above the snapshot
        # it read (base_snapshot_id): its replace_paths/anti-joins were
        # computed against a live set that no longer exists.
        dst = os.path.join(self._snap_dir(), f"v{sid}.json")
        while True:
            parent = self._manifest_for(None)
            parent_sid = parent["snapshot_id"] if parent else 0
            if operation == "overwrite" and parent_sid != base_snapshot_id:
                raise ConcurrentOverwriteError(sid, parent_sid)
            if parent_sid >= sid:  # someone published past our reservation
                sid = self._reserve_sid(parent_sid)
                # data files stay at their original snap=<id> directory;
                # only the manifest id moves forward (live_paths are
                # plain path strings, so the reference stays valid) —
                # but the lineage stamp must track the final sid: the
                # same rows, re-stamped and written again
                dst = os.path.join(self._snap_dir(), f"v{sid}.json")
                lineage_rel = self._write_lineage(lineage, run_id, sid)
            if operation == "overwrite":
                live = (replace_paths or []) + new_paths
            else:
                live = (parent["live_paths"] if parent else []) + new_paths
            manifest = {
                "snapshot_id": sid,
                "run_id": run_id,
                "parent": parent["snapshot_id"] if parent else None,
                "operation": operation,
                "n_buckets": self.n_buckets,
                "live_paths": live,
                "lineage_paths": (parent["lineage_paths"] if parent else [])
                + [lineage_rel],
                "committed_at": time.time(),
            }
            tmp = os.path.join(self._snap_dir(), f".v{sid}.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            try:
                os.link(tmp, dst)  # fails on existing target — never clobbers
            except FileExistsError as exc:  # pragma: no cover - reservation bug
                raise RuntimeError(
                    f"snapshot id {sid} was published concurrently despite "
                    "the reservation protocol — manual repair required"
                ) from exc
            finally:
                os.unlink(tmp)
            # validate: did anything publish between our parent and us?
            gap = [i for i in self._ids() if parent_sid < i < sid]
            if not gap:
                return sid
            os.unlink(dst)  # retract and retry the merge on a fresh parent
            if operation == "overwrite":
                raise ConcurrentOverwriteError(sid, max(gap))

    def _write_lineage(self, lineage: pa.Table, run_id: str, sid: int) -> str:
        """Write the stamped rows from the driver: a few rows are one
        small file, with no Spark job. Without the Arrow schema blob in
        the footer (``store_schema=False``): Spark reads the columns by
        their Parquet types."""
        rel = f"lineage/snap={sid}"
        out = os.path.join(self.root, rel)
        os.makedirs(out)  # fails on an existing directory, like errorifexists
        pq.write_table(
            stamp_lineage(lineage, run_id, sid),
            os.path.join(out, "part-00000.parquet"),
            store_schema=False,
        )
        return rel

    # --- read ----------------------------------------------------------------
    # Both reads pass their schema: an untyped spark.read.parquet runs a
    # schema-inference job on every call (every SPARQL read and update).
    def read_statements(self, snapshot_id: int | None = None) -> DataFrame:
        """The live statements, resolved (files listed, plan analyzed)
        once per live-path set: reads between two commits share the kept
        DataFrame. It is keyed on the live paths, not the snapshot id —
        a commit that retracts its manifest may republish the same id
        over another live set — and data files are immutable, so the
        listing stays valid. Each caller gets an alias of its own over
        it, never the kept Dataset."""
        m = self._manifest_for(snapshot_id)
        live = tuple(m["live_paths"]) if m else ()
        if not live:
            return self._empty(with_graph_bucket_schema())
        kept = self._kept  # one read of the field: another thread may replace it
        if kept is None or kept[0] != live:
            paths = [os.path.join(self.root, p) for p in live]
            kept = self._kept = (
                live,
                self.spark.read.schema(with_graph_bucket_schema())
                .option("basePath", self.root)
                .parquet(*paths),
            )
        return kept[1].alias("statements")

    def read_lineage(self) -> DataFrame:
        m = self._manifest_for(None)
        if m is None or not m["lineage_paths"]:
            return self._empty(LINEAGE)
        paths = [os.path.join(self.root, p) for p in m["lineage_paths"]]
        return self.spark.read.schema(LINEAGE).parquet(*paths)

    def _empty(self, schema) -> DataFrame:
        """An empty frame with zero partitions (``createDataFrame([])``
        parallelizes a Python list into defaultParallelism of them)."""
        return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), schema)

    def live_paths(self, snapshot_id: int | None = None) -> list[str]:
        m = self._manifest_for(snapshot_id)
        return list(m["live_paths"]) if m else []

    # --- maintenance ---------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop manifests older than the newest ``keep_last`` and
        garbage-collect every data/lineage directory no surviving
        snapshot references (the Iceberg expire_snapshots analog —
        without it an append-per-mutation store retains every
        historical file forever). Time travel to an expired id reads
        as the empty store afterwards; surviving snapshots keep all
        their files, so concurrent readers of live data are unaffected
        — a reader pinned to an EXPIRED snapshot loses its files, the
        standard Iceberg caveat."""
        import shutil

        ids = self._ids()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(ids) <= keep_last:
            return {"expired": 0, "dirs_removed": 0}
        keep, drop = ids[-keep_last:], ids[:-keep_last]
        referenced: set[str] = set()
        for sid in keep:
            m = self._load(sid)
            referenced |= set(m["live_paths"]) | set(m["lineage_paths"])
        # concurrency guard: an in-flight commit always reserves an id
        # ABOVE the newest published manifest, so any id ≤ the newest
        # DROPPED manifest was published long ago — only those are GC
        # candidates; higher unreferenced ids may be mid-write
        max_dropped = drop[-1]
        removed = 0
        for kind in ("data", "lineage"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            for snap in sorted(os.listdir(base)):
                rel_snap = f"{kind}/{snap}"
                full_snap = os.path.join(base, snap)
                if rel_snap in referenced:
                    continue
                try:
                    snap_id = int(snap.split("=", 1)[1])
                except (IndexError, ValueError):
                    continue
                if snap_id > max_dropped:
                    continue
                kept_children = {
                    child
                    for child in os.listdir(full_snap)
                    if f"{rel_snap}/{child}" in referenced
                }
                if not kept_children:
                    shutil.rmtree(full_snap)
                    removed += 1
                    continue
                for child in sorted(os.listdir(full_snap)):
                    if (
                        child.startswith("graph_bucket=")
                        and child not in kept_children
                    ):
                        shutil.rmtree(os.path.join(full_snap, child))
                        removed += 1
        for sid in drop:
            os.unlink(os.path.join(self._snap_dir(), f"v{sid}.json"))
        return {"expired": len(drop), "dirs_removed": removed}


def with_graph_bucket_schema():
    from pyspark.sql.types import IntegerType, StructField, StructType

    return StructType(STATEMENT.fields + [StructField("graph_bucket", IntegerType(), True)])
