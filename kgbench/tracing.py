"""The traced run's instruments: spans around public calls, a Spark job
group per span, the event log summed per group, and the layer ladder.

Spans are kept in memory and turned into metrics when the run ends.
Nothing here is active in a timed run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import time
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import tripleforge.lineage
import tripleforge.link
import tripleforge.ops
import tripleforge.pipeline
import tripleforge.sparql
import tripleforge.sparql_update
from tripleforge import ops as tf_ops
from tripleforge.catalog import ParquetSnapshotCatalog
from tripleforge.detect import with_format
from tripleforge.parse import parse_corpus, split_errors
from tripleforge.pipeline import BuildConfig, build, shape_for_commit

GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    op: int  # index of the traced op, -1 outside ops
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return 1000 * (self.end - self.start)


class Tracer:
    """Spans, each also the Spark job group of the jobs it starts, so
    the event log can be summed per (op, span)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = -1
        self.commits: list[tuple[int, int, int]] = []  # (op, bucket dirs, files) written

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1].name if self.stack else None
        s = Span(self.op, name, parent, time.perf_counter())
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"{self.op}|{name}")
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            self.spans.append(s)

    def wrap(self, fn, name: str):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced


# the public calls of pipeline.build and the update path, by the module
# attribute through which the program looks them up at call time
_PATCHES = [
    (tripleforge.pipeline, "filter_pending", "checkpoint.filter_pending"),
    (tripleforge.ops, "widen_if_narrow", "ops.widen_if_narrow"),
    (tripleforge.ops, "with_sha256", "ops.with_sha256"),
    (tripleforge.pipeline, "with_format", "detect.with_format"),
    (tripleforge.pipeline, "parse_corpus", "parse.parse_corpus"),
    (tripleforge.pipeline, "split_errors", "parse.split_errors"),
    (tripleforge.ops, "assign_graph", "ops.assign_graph"),
    (tripleforge.link, "candidate_edges", "link.candidate_edges"),
    (tripleforge.link, "connected_components", "link.cc"),
    (tripleforge.link, "rewrite", "link.rewrite"),
    (tripleforge.pipeline, "shape_for_commit", "pipeline.shape_for_commit"),
    (tripleforge.ops, "dedup", "ops.dedup"),
    (tripleforge.lineage, "collect", "lineage.collect"),
    (tripleforge.sparql_update, "parse_update", "update.parse"),
    (tripleforge.sparql, "query", "sparql.query"),
]


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Patch the public calls with spans for the duration, and the
    catalog's reads and commits. A commit's lineage is handed over
    deferred (the catalog contract allows a callable), so the lineage
    write after the statement write is a span of its own."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in _PATCHES]
    for (m, a, name), (_, _, fn) in zip(_PATCHES, saved):
        setattr(m, a, tracer.wrap(fn, name))
    read, commit = ParquetSnapshotCatalog.read_statements, ParquetSnapshotCatalog.commit_snapshot

    def traced_commit(catalog, statements, lineage, *a, **kw):
        before = set(catalog.live_paths())
        lin_span = tracer.span("lineage.write")

        def deferred():
            lin_span.__enter__()
            return lineage() if callable(lineage) else lineage

        with tracer.span("catalog.commit"):
            try:
                sid = commit(catalog, statements, deferred, *a, **kw)
            finally:
                if tracer.stack and tracer.stack[-1].name == "lineage.write":
                    lin_span.__exit__(None, None, None)
        new = [p for p in catalog.live_paths() if p not in before]
        files = sum(len(glob.glob(os.path.join(catalog.root, p, "*.parquet"))) for p in new)
        tracer.commits.append((tracer.op, len(new), files))
        return sid

    ParquetSnapshotCatalog.read_statements = tracer.wrap(read, "catalog.read")
    ParquetSnapshotCatalog.commit_snapshot = traced_commit
    try:
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)
        ParquetSnapshotCatalog.read_statements = read
        ParquetSnapshotCatalog.commit_snapshot = commit


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------
def event_log_groups(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task counters of a finished event log per job group."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    submitted: dict[tuple[int, int], float] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP)
                    if g:
                        out[g]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    submitted[key] = info.get("Submission Time", 0)
                    g = (ev.get("Properties") or {}).get(GROUP)
                    if g:
                        stage_group[info["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    info = ev["Task Info"]
                    sub = submitted.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    o = out[g]
                    o["tasks"] += 1
                    o["task_s"] += m.get("Executor Run Time", 0) / 1000
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    if sub:
                        o["wait_s"] += max(0, info["Launch Time"] - sub) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    o["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    o["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                    o["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return out


# --------------------------------------------------------------------------
# ladder
# --------------------------------------------------------------------------
PREFIX_REPS = 2


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def ladder(spark, corpus_path: str, catalog, tracer: Tracer) -> tuple[dict, dict]:
    """Time cumulative prefixes of ``pipeline.build``, each forced to the
    noop sink, then the full build. → (rung → ms, counts). A layer's time
    is the difference between adjacent rungs. The prefixes mirror
    build()'s own sequence of public calls; the gap between the last two
    rungs shows any drift. Row counts ride the rungs' own writes through
    ``observe``."""
    cfg = BuildConfig()
    dp = spark.sparkContext.defaultParallelism
    observed: dict[str, Observation] = {}
    held = {}

    def counted(df, key):
        observed[key] = Observation()
        return df.observe(observed[key], F.count(F.lit(1)).alias("n"))

    def prepared():
        corpus = tf_ops.widen_if_narrow(
            spark.read.parquet(corpus_path), target=max(min(8, dp), dp // 4))
        return with_format(tf_ops.with_sha256(corpus))

    def statements():
        stmts, _ = split_errors(parse_corpus(prepared(), canonicalize=True))
        return tf_ops.assign_graph(stmts, cfg.graph_override)

    def linked():
        stmts = statements()
        held["edges"] = tripleforge.link.candidate_edges(
            stmts, cfg.link_key_preds, cfg.max_block)
        held["mapping"] = tripleforge.link.connected_components(held["edges"])
        return tripleforge.link.rewrite(stmts, held["mapping"])

    prefixes = {
        "scan": lambda: spark.read.parquet(corpus_path),
        "fingerprint": prepared,
        "parse": lambda: parse_corpus(prepared(), canonicalize=False),
        "canon": lambda: parse_corpus(prepared(), canonicalize=True),
        # counts are observed at a rung's root only: an observed frame
        # that a later plan uses twice (link.rewrite unions two filters
        # of its input) reports nothing
        "split_graph": lambda: counted(statements(), "rows_out"),
        "link": lambda: counted(linked(), "linked"),
        "shape": lambda: counted(shape_for_commit(linked(), catalog)[1], "shaped"),
    }
    ms = {}
    tracer.op = -1

    def rung(name, fn):
        with tracer.span(f"ladder.{name}") as s:
            out = fn()
        ms[name] = min(ms.get(name, math.inf), s.ms)
        return out

    # prefixes run PREFIX_REPS times, the fastest counted: a prefix's
    # first run can pay one-off costs (a parser path the builds never
    # took) that belong to no layer
    for name, prefix in prefixes.items():
        for _ in range(PREFIX_REPS):
            rung(name, lambda: _noop(prefix()))
    counts = {key: obs.get["n"] for key, obs in observed.items()}
    # the edge set is consumed by an eager checkpoint, which reports no
    # observed metrics: count it with one job of its own
    counts["edges"] = held["edges"].count()
    counts["members"] = held["mapping"].count()
    res = rung("build", lambda: build(spark, spark.read.parquet(corpus_path), catalog, cfg))
    counts["error_rows"] = res.n_errors
    return ms, counts
