"""Fixed per-call Spark jobs on the serve path: a catalog read, the
collect of a DATA batch, a mutation's lineage write and one
INSERT/DELETE DATA stay within their job counts, counted per job group;
and reads between two commits reuse one resolved read. A build links a
corpus without edges in one job, and parses each partition once."""

from __future__ import annotations

import json
import os
import uuid
from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from tripleforge import ops, update
from tripleforge.catalog import ParquetSnapshotCatalog
from tripleforge.datagen import CorpusSpec, corpus_df
from tripleforge.io import prune_to_graphs
from tripleforge.pipeline import BuildConfig, build
from tripleforge.schema import LINEAGE, OWL_SAMEAS, STATEMENT_QUAD_KEY
from tripleforge.sparql_update import _data_batch, execute_update, parse_update


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def served(spark, tmp_path):
    cat = ParquetSnapshotCatalog(spark, str(tmp_path / "cat"), n_buckets=8)
    corpus = corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=2, stmts_per_file=20))
    build(spark, corpus, cat, BuildConfig(run_id="b", link_entities=False))
    return cat


_TRIPLES = " ".join(f'<http://ex.org/s> <http://ex.org/p{j}> "v{j}" .' for j in range(3))


def test_catalog_reads_run_no_job(spark, served):
    stmts, n = _jobs(spark, served.read_statements)
    assert n == 0
    assert stmts.count() > 0
    lineage, n = _jobs(spark, served.read_lineage)
    assert n == 0
    assert lineage.count() > 0


def test_data_batch_buckets_run_no_job(spark, served):
    """The one collect of a DATA batch (graph-assigned, bucketed, keyed
    and de-duplicated) runs no job, and its buckets are the ones the
    distributed probe finds."""
    graphs = " ".join(f"GRAPH <urn:h{i}> {{ {_TRIPLES} }}" for i in range(4))
    _, _, rows = parse_update(f"INSERT DATA {{ {_TRIPLES} {_TRIPLES} {graphs} }}")
    batch = _data_batch(spark, rows)
    got, n = _jobs(spark, lambda: update.collect_batch(batch, served.n_buckets, "urn:g"))
    assert n == 0
    assigned = ops.assign_graph(update._conform(batch), override="urn:g")
    assert got.buckets == set(update.touched_buckets(assigned, served.n_buckets))
    assert len(got.buckets) > 1
    assert len(got.rows) == assigned.dropDuplicates(STATEMENT_QUAD_KEY).count() == 15


def test_graph_probe_runs_no_job(spark, served):
    touched, n = _jobs(spark, lambda: update._graph_buckets(["urn:g", None], served.n_buckets))
    assert n == 0
    probe = spark.createDataFrame([("urn:g",), (None,)], "graph string")
    assert touched == set(update.touched_buckets(probe, served.n_buckets))


def test_data_updates_stay_within_their_job_counts(spark, served):
    before = served.read_statements().count()
    _, n_insert = _jobs(
        spark, lambda: execute_update(spark, served, f"INSERT DATA {{ GRAPH <urn:g> {{ {_TRIPLES} }} }}")
    )
    assert served.read_statements().count() == before + 3
    _, n_delete = _jobs(
        spark, lambda: execute_update(spark, served, f"DELETE DATA {{ GRAPH <urn:g> {{ {_TRIPLES} }} }}")
    )
    assert served.read_statements().count() == before
    assert n_insert <= 3
    assert n_delete <= 3


def test_mutation_lineage_write_runs_no_job(spark, served):
    """A mutation's lineage row is counted by the write it rides and
    written from the driver: the lineage write itself runs no job."""
    data, lineage = update.observed_lineage(served.read_statements(), "probe")
    n_rows = data.count()
    rel, n = _jobs(spark, lambda: served._write_lineage(lineage(), "lin", 99))
    assert n == 0
    (row,) = spark.read.schema(LINEAGE).parquet(os.path.join(served.root, rel)).collect()
    assert (row.run_id, row.snapshot_id, row.parser, row.n_triples) == ("lin", 99, "probe", n_rows)
    assert row.committed_at is not None


def test_a_second_read_of_a_snapshot_reuses_the_first(spark, served):
    """Reads between two commits resolve the live paths once; each
    caller still gets a Dataset of its own, so two reads join as two."""
    first = served.read_statements()
    kept = served._kept
    second, n = _jobs(spark, served.read_statements)
    assert n == 0
    assert served._kept is kept
    assert second is not first
    n_rows = first.count()
    assert update._on_quad_key(first, second, "left_semi").count() == n_rows
    assert update._anti_on_quad_key(first, second).count() == 0


def test_a_read_after_another_catalog_commits_sees_its_rows(spark, served):
    before = served.read_statements().count()
    other = ParquetSnapshotCatalog(spark, served.root)
    execute_update(spark, other, f"INSERT DATA {{ GRAPH <urn:g> {{ {_TRIPLES} }} }}")
    assert served.read_statements().count() == before + 3


def test_a_republished_snapshot_id_is_read_over_its_new_live_set(spark, served):
    """The kept read is keyed on the live paths, not on the snapshot id:
    a committer that retracts its manifest republishes the same id over
    another live set."""
    sid = served.latest_snapshot_id()
    before = served.read_statements().count()
    manifest = os.path.join(served.root, "_snapshots", f"v{sid}.json")
    with open(manifest) as fh:
        m = json.load(fh)
    dropped = m["live_paths"].pop()
    n_dropped = spark.read.parquet(os.path.join(served.root, dropped)).count()
    os.unlink(manifest)
    with open(manifest, "w") as fh:
        json.dump(m, fh)
    assert served.latest_snapshot_id() == sid
    assert served.read_statements().count() == before - n_dropped > 0


def test_anti_join_ignores_duplicates_on_the_right(spark):
    """The right side is not de-duplicated: a left-anti (or semi) join's
    result does not depend on duplicates there, null obj_dt/obj_lang
    included."""
    ddl = (
        "subj string, pred string, obj string, obj_kind string, obj_dt string, "
        "obj_lang string, graph string"
    )
    left = spark.createDataFrame(
        [
            ("s1", "p", "o", "iri", None, None, "g"),
            ("s2", "p", "o", "literal", None, "en", "g"),
            ("s3", "p", "1", "literal", "xsd:int", None, None),
            ("s4", "p", "o", "iri", None, None, "g"),
        ],
        ddl,
    )
    right = spark.createDataFrame(
        [
            ("s1", "p", "o", "iri", None, None, "g"),
            ("s1", "p", "o", "iri", None, None, "g"),
            ("s3", "p", "1", "literal", "xsd:int", None, None),
            ("s3", "p", "1", "literal", "xsd:int", None, None),
            ("s4", "p", "o", "iri", None, None, "other"),
        ],
        ddl,
    )
    deduped = right.select(*STATEMENT_QUAD_KEY).dropDuplicates()
    cond = None
    for c in STATEMENT_QUAD_KEY:
        term = left[c].eqNullSafe(deduped[c])
        cond = term if cond is None else cond & term
    want = sorted(left.join(deduped, cond, "left_anti").collect())
    got = sorted(update._anti_on_quad_key(left, right).collect())
    assert got == want
    assert [r.subj for r in got] == ["s2", "s4"]
    kept = update._on_quad_key(left, right, "left_semi").orderBy(F.col("subj"))
    assert [r.subj for r in kept.collect()] == ["s1", "s3"]


def test_bucket_pruning_follows_the_catalog_layout(spark, served):
    """Whether the store is bucketed is the catalog's ``n_buckets``, not
    a schema round trip: a catalog with no bucketed layout declares None
    and gets the store unpruned."""
    live = served.read_statements()
    pruned = update.restrict_to_buckets(served, live, {1})
    assert "graph_bucket" in pruned._jdf.queryExecution().optimizedPlan().toString()
    unbucketed = SimpleNamespace(n_buckets=None)
    assert update.restrict_to_buckets(unbucketed, live, {1}) is live
    assert prune_to_graphs(live, ["urn:g"], unbucketed.n_buckets) is live


def test_linking_a_corpus_without_edges_runs_one_job(spark, tmp_path):
    """With no sameAs edges, linking is the one job that sizes the edge
    set (the job that also materializes the persisted parse): no
    rewrite joins, no mapping count."""
    corpus = corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=2, stmts_per_file=20))

    def built(tag, link):
        cat = ParquetSnapshotCatalog(spark, str(tmp_path / tag), n_buckets=8)
        cfg = BuildConfig(run_id=tag, link_entities=link)
        return _jobs(spark, lambda: build(spark, corpus, cat, cfg))

    (linked, n_linked), (plain, n_plain) = built("linked", True), built("plain", False)
    assert n_linked <= n_plain + 1
    assert linked.n_statements == plain.n_statements > 0


def test_first_resume_build_runs_no_emptiness_job(spark, tmp_path):
    """Into an empty catalog, a resume build runs the jobs of a build
    without resume: nothing is committed, so it asks no isEmpty of the
    corpus."""
    corpus = corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=2, stmts_per_file=20))

    def built(tag, resume):
        cat = ParquetSnapshotCatalog(spark, str(tmp_path / tag), n_buckets=8)
        cfg = BuildConfig(run_id=tag, link_entities=False, resume=resume)
        return _jobs(spark, lambda: build(spark, corpus, cat, cfg))

    (resumed, n_resumed), (plain, n_plain) = built("resumed", True), built("plain", False)
    assert n_resumed == n_plain
    assert resumed.n_statements == plain.n_statements > 0


def test_resume_build_of_an_empty_corpus_commits_one_snapshot(spark, tmp_path):
    from tripleforge.schema import CORPUS

    cat = ParquetSnapshotCatalog(spark, str(tmp_path / "cat"), n_buckets=4)
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), CORPUS)
    first = build(spark, empty, cat, BuildConfig(run_id="e1", link_entities=False))
    assert (first.n_statements, first.n_errors) == (0, 0)
    sid = cat.latest_snapshot_id()
    assert sid == first.snapshot_id == 1
    again = build(spark, empty, cat, BuildConfig(run_id="e2", link_entities=False))
    assert cat.latest_snapshot_id() == sid
    assert (again.snapshot_id, again.n_statements) == (sid, 0)
    assert cat.read_statements().count() == 0


@pytest.mark.parametrize("link_rate", [0.0, 0.3])
def test_build_runs_the_parse_kernel_once(spark, tmp_path, monkeypatch, link_rate):
    """Each partition of a build's parse runs the kernel once, with
    sameAs edges to link or without."""
    from tripleforge.parse import dispatch

    log = str(tmp_path / "kernel.log")
    kernel = dispatch._parse_batches

    def logged(batches, canonicalize=False):
        from pyspark import TaskContext

        with open(log, "a") as fh:
            fh.write(f"{TaskContext.get().partitionId()}\n")
        return kernel(batches, canonicalize=canonicalize)

    # the mapInArrow closure captures the module global when pickled
    monkeypatch.setattr(dispatch, "_parse_batches", logged)
    cat = ParquetSnapshotCatalog(spark, str(tmp_path / "cat"), n_buckets=8)
    spec = CorpusSpec(n_repos=3, files_per_repo=2, stmts_per_file=10, link_rate=link_rate)
    build(spark, corpus_df(spark, spec), cat, BuildConfig(run_id="b"))
    n_links = cat.read_statements().where(F.col("pred") == OWL_SAMEAS).count()
    assert (n_links > 0) == (link_rate > 0)
    with open(log) as fh:
        runs = Counter(fh.read().split())
    assert runs and set(runs.values()) == {1}, runs
