"""Structured-Streaming ingest tests (SURVEY.md §5.2.10, §2.D):
availableNow micro-batch over a fixture directory, exactly-once
snapshot commits, streaming dedup, windowed metrics."""

from __future__ import annotations

import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tripleforge.catalog import ParquetSnapshotCatalog
from tripleforge.datagen import CorpusSpec, corpus_df
from tripleforge.lineage import dataset_checksum
from tripleforge.pipeline import BuildConfig, build
from tripleforge.streaming.ingest import (
    incremental_build,
    stream_corpus,
    throughput_windows,
)


@pytest.fixture()
def dirs():
    src = tempfile.mkdtemp(prefix="tfsrc_")
    chk = tempfile.mkdtemp(prefix="tfchk_")
    cat = tempfile.mkdtemp(prefix="tfcat_")
    yield src, chk, cat
    for d in (src, chk, cat):
        shutil.rmtree(d, ignore_errors=True)


def _landing(spark, src, spec, ts="2024-01-01 00:00:00", repo_prefix=""):
    df = corpus_df(spark, spec).withColumn(
        "ingest_ts", F.lit(ts).cast("timestamp")
    )
    if repo_prefix:
        df = df.withColumn("repo", F.concat(F.lit(repo_prefix), F.col("repo")))
    df.write.mode("append").parquet(src)


def test_incremental_build_matches_batch(spark, dirs):
    src, chk, root = dirs
    spec = CorpusSpec(n_repos=3, files_per_repo=2, stmts_per_file=8)
    _landing(spark, src, spec)
    cat = ParquetSnapshotCatalog(spark, root, n_buckets=4)
    q = incremental_build(spark, src, cat, chk)
    q.awaitTermination(120)
    got = cat.read_statements()
    # must equal the batch build over the same corpus
    solo_root = tempfile.mkdtemp(prefix="tfsolo_")
    try:
        solo = ParquetSnapshotCatalog(spark, solo_root, n_buckets=4)
        build(spark, corpus_df(spark, spec), solo, BuildConfig(run_id="b", link_entities=False))
        assert dataset_checksum(got) == dataset_checksum(solo.read_statements())
    finally:
        shutil.rmtree(solo_root, ignore_errors=True)


def _landing_with_a_malformed_line(spark, src):
    spec = CorpusSpec(n_repos=2, files_per_repo=2, stmts_per_file=6, formats=("nt", "ttl"))
    bad = spark.createDataFrame(
        [("org9/bad", "x.nt", "c9", "N-Triples", "<urn:s> <urn:p> <urn:o> .\n<urn:s> <urn:p> .\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    corpus = corpus_df(spark, spec).unionByName(bad)
    corpus.withColumn("ingest_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")).write.parquet(
        src, mode="append"
    )
    return corpus


def test_micro_batch_commits_the_lineage_of_a_batch_build(spark, dirs):
    """Lineage rows of a micro-batch with a malformed line, stamps aside,
    equal those of build() over the same corpus."""
    src, chk, root = dirs
    corpus = _landing_with_a_malformed_line(spark, src)
    cat = ParquetSnapshotCatalog(spark, root, n_buckets=4)
    incremental_build(spark, src, cat, chk).awaitTermination(120)
    cols = ["repo", "commit", "parser", "n_files", "n_triples", "n_errors", "checksum"]
    solo_root = tempfile.mkdtemp(prefix="tfsolo_")
    try:
        solo = ParquetSnapshotCatalog(spark, solo_root, n_buckets=4)
        build(spark, corpus, solo, BuildConfig(run_id="b", link_entities=False))
        want = sorted(tuple(r) for r in solo.read_lineage().select(*cols).collect())
    finally:
        shutil.rmtree(solo_root, ignore_errors=True)
    got = sorted(tuple(r) for r in cat.read_lineage().select(*cols).collect())
    assert got == want
    assert ("org9/bad", "c9", "nt", 1, 1, 1) in [r[:6] for r in got]


def test_micro_batch_runs_the_parse_kernel_once(spark, dirs, monkeypatch, tmp_path):
    """Each partition of a micro-batch's parse runs the kernel once: the
    data write and both lineage branches read one materialization."""
    from tripleforge.parse import dispatch

    src, chk, root = dirs
    _landing_with_a_malformed_line(spark, src)
    log = str(tmp_path / "kernel.log")
    kernel = dispatch._parse_batches

    def logged(batches, canonicalize=False):
        from pyspark import TaskContext

        with open(log, "a") as fh:
            fh.write(f"{TaskContext.get().partitionId()}\n")
        return kernel(batches, canonicalize=canonicalize)

    # the mapInArrow closure captures the module global when pickled
    monkeypatch.setattr(dispatch, "_parse_batches", logged)
    cat = ParquetSnapshotCatalog(spark, root, n_buckets=4)
    incremental_build(spark, src, cat, chk).awaitTermination(120)
    with open(log) as fh:
        runs = Counter(fh.read().split())
    assert runs and set(runs.values()) == {1}, runs


def test_streaming_catchup_processes_only_new(spark, dirs):
    src, chk, root = dirs
    cat = ParquetSnapshotCatalog(spark, root, n_buckets=4)
    _landing(spark, src, CorpusSpec(n_repos=2, files_per_repo=2, seed=1))
    q = incremental_build(spark, src, cat, chk)
    q.awaitTermination(120)
    n1 = cat.read_statements().count()
    # second wave of NEW files lands → catch-up run ingests only those
    # (same paths would be dropped by the streaming (repo,path,commit)
    # dedup — that behavior is what test_incremental_* rely on)
    _landing(spark, src, CorpusSpec(n_repos=2, files_per_repo=2, seed=2), repo_prefix="wave2/")
    q = incremental_build(spark, src, cat, chk)
    q.awaitTermination(120)
    n2 = cat.read_statements().count()
    assert n2 > n1
    # third run with nothing new → no growth (checkpoint + idempotence)
    q = incremental_build(spark, src, cat, chk)
    q.awaitTermination(120)
    assert cat.read_statements().count() == n2


def test_windowed_throughput_metrics(spark, dirs):
    src, chk, _ = dirs
    _landing(spark, src, CorpusSpec(n_repos=2, files_per_repo=3), ts="2024-01-01 00:00:30")
    out_dir = tempfile.mkdtemp(prefix="tfwin_")
    try:
        stream = stream_corpus(spark, src)
        agg = throughput_windows(stream, window="1 minute")
        q = (
            agg.writeStream.format("memory")
            .queryName("tput")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM tput").collect()
        assert {r.repo for r in rows} == {"org0/repo0", "org0/repo1"}
        assert all(r.n_files == 3 for r in rows)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_streaming_shadowed_unit_lineage_and_cross_batch_set_semantics(spark, dirs):
    """The streaming commit shares pipeline.shape_for_commit with the
    batch build: (a) a unit whose quads are fully shadowed by another
    unit in the same micro-batch still gets lineage (marked committed);
    (b) a later micro-batch re-asserting live quads from a NEW unit
    appends nothing (cross-snapshot set semantics)."""
    src, chk, root = dirs
    cat = ParquetSnapshotCatalog(spark, root, n_buckets=4)
    nt = "<urn:s> <urn:p> <urn:o> ."
    wave1 = spark.createDataFrame(
        [
            ("org/r1", "a.nt", "c1", "N-Triples", nt),
            ("org/r1", "b.nt", "c2", "N-Triples", nt),  # same graph, same quad
        ],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("ingest_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    wave1.write.mode("append").parquet(src)
    q = incremental_build(spark, src, cat, chk)
    q.awaitTermination(120)
    assert cat.read_statements().count() == 1
    committed = {(r.repo, r.commit) for r in cat.committed_units().collect()}
    assert ("org/r1", "c1") in committed and ("org/r1", "c2") in committed
    # wave 2: a NEW unit re-asserts the same quad → nothing appended
    wave2 = spark.createDataFrame(
        [("org/r1", "c.nt", "c3", "N-Triples", nt)],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("ingest_ts", F.lit("2024-01-01 00:10:00").cast("timestamp"))
    wave2.write.mode("append").parquet(src)
    q = incremental_build(spark, src, cat, chk)
    q.awaitTermination(120)
    assert cat.read_statements().count() == 1
    assert ("org/r1", "c3") in {
        (r.repo, r.commit) for r in cat.committed_units().collect()
    }


def test_stream_batch_after_insert_first_store_stamps_lineage(spark, dirs):
    """A micro-batch committed onto a store whose first commit was
    INSERT DATA: the catalog stamps both lineage kinds to schema.LINEAGE."""
    from tripleforge import update
    from tripleforge.schema import LINEAGE

    src, chk, root = dirs
    cat = ParquetSnapshotCatalog(spark, root, n_buckets=4)
    update.insert_data(
        cat,
        spark.createDataFrame(
            [("http://s", "http://p", "http://o", "iri")],
            "subj string, pred string, obj string, obj_kind string",
        ),
        graph="urn:g",
        run_id="i0",
    )
    _landing(spark, src, CorpusSpec(n_repos=1, files_per_repo=2, stmts_per_file=4))
    incremental_build(spark, src, cat, chk).awaitTermination(120)
    lin = cat.read_lineage()
    assert lin.columns == [f.name for f in LINEAGE.fields]
    assert {r.run_id for r in lin.select("run_id").collect()} == {"i0", "stream-0"}
    assert lin.where(F.col("committed_at").isNull()).count() == 0


def test_streaming_ingests_jsonld(spark, dirs):
    """r4: the shared dispatcher means JSON-LD corpora stream through
    the incremental path identically to batch — format coverage check."""
    src, chk, cat_dir = dirs
    spec = CorpusSpec(n_repos=2, files_per_repo=3, stmts_per_file=8,
                      formats=("jsonld", "nt"))
    _landing(spark, src, spec)
    cat = ParquetSnapshotCatalog(spark, cat_dir)
    q = incremental_build(spark, src, cat, chk, BuildConfig(link_entities=False))
    q.awaitTermination(120)
    got = cat.read_statements()
    assert got.count() == 2 * 3 * 8
    # the jsonld files genuinely went through the jsonld kernel
    parsers = {r.parser for r in cat.read_lineage().select("parser").distinct().collect()}
    assert "jsonld" in parsers


def test_incremental_build_rejects_swapped_args(spark, dirs):
    """Regression (VERDICT r4 #1): passing the Catalog where the
    checkpoint path belongs must raise loudly, not litter os.getcwd()
    with a '<...object at 0x...>' directory."""
    src, chk, root = dirs
    cat = ParquetSnapshotCatalog(spark, root)
    with pytest.raises(TypeError, match="checkpoint_dir"):
        incremental_build(spark, src, cat, cat)  # swapped: catalog as path
    with pytest.raises(TypeError, match="catalog"):
        incremental_build(spark, src, chk, chk)  # path where catalog belongs
    with pytest.raises(TypeError, match="source_path"):
        incremental_build(spark, cat, cat, chk)
