"""Snapshot / resume / lineage / update tests (SURVEY.md §5.2.6)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from tripleforge import update
from tripleforge.catalog import ParquetSnapshotCatalog
from tripleforge.checkpoint import filter_pending
from tripleforge.datagen import CorpusSpec, corpus_df
from tripleforge.lineage import dataset_checksum
from tripleforge.pipeline import BuildConfig, build


@pytest.fixture()
def cat_root():
    root = tempfile.mkdtemp(prefix="tfcat_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _corpus(spark, n_repos=3):
    return corpus_df(
        spark,
        CorpusSpec(n_repos=n_repos, files_per_repo=2, stmts_per_file=8, dup_rate=0.1),
    )


def test_build_commit_and_lineage(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=8)
    corpus = _corpus(spark)
    res = build(spark, corpus, cat, BuildConfig(run_id="r1", link_entities=False))
    assert res.snapshot_id == 1
    assert res.n_statements > 0
    lin = cat.read_lineage()
    assert lin.where(F.col("run_id") == "r1").count() > 0
    # lineage triple counts sum to committed statements
    total = lin.agg(F.sum("n_triples")).first()[0]
    assert total == res.n_statements


def test_resume_skips_committed_units(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=8)
    corpus = _corpus(spark)
    build(spark, corpus, cat, BuildConfig(run_id="r1", link_entities=False))
    n1 = cat.read_statements().count()
    # partial failure simulation: re-run over the SAME corpus resumes to 0 work
    res2 = build(spark, corpus, cat, BuildConfig(run_id="r2", link_entities=False))
    assert res2.n_statements == 0
    assert cat.read_statements().count() == n1


def test_resume_processes_only_remainder(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=8)
    big = _corpus(spark, n_repos=4)
    first_half = big.where(F.col("repo") < "org0/repo2")
    build(spark, first_half, cat, BuildConfig(run_id="r1", link_entities=False))
    pending = filter_pending(big, cat)
    assert set(r.repo for r in pending.select("repo").distinct().collect()) == {
        "org0/repo2", "org0/repo3",
    }
    build(spark, big, cat, BuildConfig(run_id="r2", link_entities=False))
    # final store equals a single-run store (order-independent checksum)
    solo_root = tempfile.mkdtemp(prefix="tfsolo_")
    try:
        solo = ParquetSnapshotCatalog(spark, solo_root, n_buckets=8)
        build(spark, big, solo, BuildConfig(run_id="r1", link_entities=False))
        assert dataset_checksum(cat.read_statements()) == dataset_checksum(
            solo.read_statements()
        )
    finally:
        shutil.rmtree(solo_root, ignore_errors=True)


def test_idempotent_recommit(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    corpus = _corpus(spark)
    r1 = build(spark, corpus, cat, BuildConfig(run_id="same", resume=False, link_entities=False))
    # same run_id retried (driver restart) → same snapshot, no double-append
    stmts, lin = cat.read_statements(), cat.read_lineage()
    n, nl = stmts.count(), lin.count()
    from tripleforge import lineage as lmod
    from tripleforge.pipeline import transform

    s2, e2 = transform(corpus, BuildConfig(link_entities=False))
    sid = cat.commit_snapshot(s2, lmod.collect(s2, e2).withColumn("run_id", F.lit("same")), run_id="same")
    assert sid == r1.snapshot_id
    assert cat.read_statements().count() == n


def _bounded(fn, timeout=300):
    """Run ``fn`` in a thread and fail if it does not return in time: a
    build that read its observed totals without a write would block
    forever instead of failing."""
    out = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as exc:  # re-raised in the test thread
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"build() did not return within {timeout} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def test_idempotent_build_rerun_reports_first_totals(spark, cat_root):
    """A build whose run_id is already committed writes nothing, so its
    totals cannot come from the lineage write's observed metrics; they
    are the first run's committed ones."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    corpus = _corpus(spark)
    cfg = BuildConfig(run_id="same", resume=False, link_entities=False)
    r1 = _bounded(lambda: build(spark, corpus, cat, cfg))
    n = cat.read_statements().count()
    r2 = _bounded(lambda: build(spark, corpus, cat, cfg))
    assert r2.snapshot_id == r1.snapshot_id
    assert (r2.n_statements, r2.n_errors) == (r1.n_statements, r1.n_errors)
    assert r1.n_statements > 0
    assert cat.read_statements().count() == n
    assert cat.latest_snapshot_id() == r1.snapshot_id


def test_all_malformed_corpus_reports_errors_only(spark, cat_root):
    """Every line malformed: no statement is committed, and the reported
    error total is the committed lineage's."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    corpus = spark.createDataFrame(
        [
            ("org/r1", "a.nt", "c1", "N-Triples", "<urn:s> <urn:p> .\n<urn:s> <urn:p\n"),
            ("org/r2", "b.nt", "c2", "N-Triples", "not rdf at all\n"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    res = _bounded(lambda: build(spark, corpus, cat, BuildConfig(link_entities=False)))
    committed = cat.read_lineage().agg(F.sum("n_errors")).first()[0]
    assert res.n_statements == 0
    assert res.n_errors == committed > 0
    assert cat.read_statements().count() == 0


def test_empty_corpus_without_resume_reports_zero(spark, cat_root):
    """No unit at all: the lineage write is empty, AQE may prune its
    metrics node, and the totals read as 0 rather than failing."""
    from tripleforge.schema import CORPUS

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), CORPUS)
    res = _bounded(
        lambda: build(spark, empty, cat, BuildConfig(resume=False, link_entities=False))
    )
    assert (res.n_statements, res.n_errors) == (0, 0)


@pytest.mark.parametrize("n_buckets", [8, 64])
def test_build_writes_one_sorted_file_per_bucket(spark, cat_root, n_buckets):
    """The bucket write lets AQE size its task count, but each
    graph_bucket directory still holds exactly one file, sorted by
    subject (tight row-group stats for bound-subject scans)."""
    import pyarrow.parquet as pq

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=n_buckets)
    corpus = corpus_df(spark, CorpusSpec(n_repos=12, files_per_repo=2, stmts_per_file=10))
    res = build(spark, corpus, cat, BuildConfig(link_entities=False))
    dirs = glob.glob(os.path.join(cat_root, f"data/snap={res.snapshot_id}/graph_bucket=*"))
    assert len(dirs) > 1
    n = 0
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, f"{d} holds {len(files)} files"
        subj = pq.read_table(files[0], columns=["subj"]).column("subj").to_pylist()
        assert subj == sorted(subj)
        n += len(subj)
    assert n == res.n_statements == cat.read_statements().count()


def test_filter_pending_on_empty_catalog_plans_no_join(spark, cat_root):
    """Nothing is committed in an empty catalog, so the resume filter
    adds no join (and no exchange in front of the scan widening)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    corpus = _corpus(spark)
    plan = filter_pending(corpus, cat)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan


def test_time_travel(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    build(spark, _corpus(spark, 2), cat, BuildConfig(run_id="r1", link_entities=False))
    n1 = cat.read_statements().count()
    ins = spark.createDataFrame(
        [("http://s", "http://p", "http://o", "iri")],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, ins, graph="urn:g", run_id="ins")
    assert cat.read_statements().count() == n1 + 1
    assert cat.read_statements(snapshot_id=1).count() == n1  # time travel


def test_insert_is_set_semantic(spark, cat_root):
    """Re-adding an existing triple is a no-op — reference triplestore
    set semantics."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    ins = spark.createDataFrame(
        [("http://s", "http://p", "http://o", "iri")],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, ins, graph="urn:g", run_id="i1")
    update.insert_data(cat, ins, graph="urn:g", run_id="i2")
    assert cat.read_statements().count() == 1


def test_insert_batch_duplicates_and_null_keys(spark, cat_root):
    """A batch holding one quad twice inserts it once. A null and an
    empty obj_lang are different quads: both are inserted, re-inserting
    either is a no-op, and deleting one leaves the other."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    ddl = "subj string, pred string, obj string, obj_kind string, obj_lang string"
    null_lang, empty_lang = ("http://s", "http://p", "o", "literal", None), ("http://s", "http://p", "o", "literal", "")
    batch = spark.createDataFrame([null_lang, null_lang, empty_lang], ddl)
    update.insert_data(cat, batch, graph="urn:g", run_id="i1")
    assert cat.read_statements().count() == 2
    update.insert_data(cat, spark.createDataFrame([empty_lang], ddl), graph="urn:g", run_id="i2")
    assert cat.read_statements().count() == 2
    n_triples = {
        r.run_id: r.n_triples for r in cat.read_lineage().select("run_id", "n_triples").collect()
    }
    assert n_triples == {"i1": 2, "i2": 0}
    update.delete_data(cat, spark.createDataFrame([null_lang], ddl), graph="urn:g", run_id="d1")
    assert [r.obj_lang for r in cat.read_statements().collect()] == [""]


def test_delete_data(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    rows = spark.createDataFrame(
        [
            ("http://s1", "http://p", "http://o", "iri"),
            ("http://s2", "http://p", "http://o", "iri"),
        ],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, rows, graph="urn:g", run_id="i1")
    kill = spark.createDataFrame(
        [("http://s1", "http://p", "http://o", "iri")],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.delete_data(cat, kill, graph="urn:g", run_id="d1")
    left = cat.read_statements().collect()
    assert len(left) == 1 and left[0].subj == "http://s2"


def test_shadowed_unit_still_marked_committed(spark, cat_root):
    """ADVICE r1-high: two commits of one repo share graph urn:repo:<r>;
    a unit whose quads are fully shadowed by another unit's identical
    statements must STILL get lineage (be marked committed) so resume
    never re-appends it — and the store must hold each quad once."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=8)
    nt = "<urn:s> <urn:p> <urn:o> ."
    corpus = spark.createDataFrame(
        [
            ("org/r1", "a.nt", "c1", "N-Triples", nt),
            ("org/r1", "b.nt", "c2", "N-Triples", nt),  # same repo → same graph
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    build(spark, corpus, cat, BuildConfig(run_id="r1", link_entities=False))
    committed = {
        (r.repo, r.commit) for r in cat.committed_units().collect()
    }
    assert ("org/r1", "c1") in committed and ("org/r1", "c2") in committed
    assert cat.read_statements().count() == 1  # set semantics
    # resume over the same corpus: nothing pending, nothing re-appended
    res2 = build(spark, corpus, cat, BuildConfig(run_id="r2", link_entities=False))
    assert res2.n_statements == 0
    assert cat.read_statements().count() == 1


def test_append_is_set_semantic_across_snapshots(spark, cat_root):
    """A second build of the same repo at a NEW commit re-asserting the
    same triples must not duplicate quads in the store."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=8)
    nt = "<urn:s> <urn:p> <urn:o> .\n<urn:s2> <urn:p> <urn:o2> ."
    mk = lambda commit, extra: spark.createDataFrame(
        [("org/r1", "a.nt", commit, "N-Triples", nt + extra)],
        "repo string, path string, commit string, lang string, content string",
    )
    build(spark, mk("c1", ""), cat, BuildConfig(run_id="r1", link_entities=False))
    build(
        spark,
        mk("c2", "\n<urn:s3> <urn:p> <urn:o3> ."),
        cat,
        BuildConfig(run_id="r2", link_entities=False),
    )
    stmts = cat.read_statements()
    assert stmts.count() == 3
    assert stmts.select("subj", "pred", "obj", "graph").distinct().count() == 3


def test_sid_reservation_skips_reserved_ids(spark, cat_root):
    """Concurrent-committer safety (ADVICE r1): a reservation marker for
    the next sid (a committer mid-flight, or a crashed one) forces the
    next commit onto a fresh id — no manifest is ever clobbered."""
    import os

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    ins = spark.createDataFrame(
        [("http://s", "http://p", "http://o", "iri")],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, ins, graph="urn:g", run_id="i1")  # sid 1
    # simulate another committer that reserved sid 2 and is still writing
    open(os.path.join(cat_root, "_snapshots", ".reserve.v2"), "x").close()
    ins2 = spark.createDataFrame(
        [("http://s2", "http://p", "http://o", "iri")],
        "subj string, pred string, obj string, obj_kind string",
    )
    sid = update.insert_data(cat, ins2, graph="urn:g", run_id="i2")
    assert sid == 3
    assert cat.read_statements().count() == 2


def test_delete_rewrites_only_touched_buckets(spark, cat_root):
    """VERDICT r1: DELETE must be a partition-scoped overwrite — data
    files of untouched graph buckets are carried into the new snapshot
    verbatim (same paths, byte-identical), never re-read/rewritten."""
    import glob as _glob
    import os

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=8)
    # two graphs that land in different buckets
    from pyspark.sql import functions as SF

    from tripleforge.io import with_graph_bucket

    rows = spark.createDataFrame(
        [
            ("http://s1", "http://p", "http://o", "iri", "urn:g1"),
            ("http://s2", "http://p", "http://o", "iri", "urn:g2"),
        ],
        "subj string, pred string, obj string, obj_kind string, graph string",
    )
    buckets = {
        r.graph: r.graph_bucket
        for r in with_graph_bucket(rows, 8).select("graph", "graph_bucket").collect()
    }
    assert buckets["urn:g1"] != buckets["urn:g2"], "pick graphs in distinct buckets"
    update.insert_data(cat, rows, run_id="i1")
    untouched_rel = [
        p for p in cat.live_paths() if p.endswith(f"graph_bucket={buckets['urn:g2']}")
    ]
    assert untouched_rel
    before = {}
    for rel in untouched_rel:
        for f in _glob.glob(os.path.join(cat_root, rel, "*.parquet")):
            with open(f, "rb") as fh:
                before[f] = fh.read()
    kill = spark.createDataFrame(
        [("http://s1", "http://p", "http://o", "iri", "urn:g1")],
        "subj string, pred string, obj string, obj_kind string, graph string",
    )
    update.delete_data(cat, kill, run_id="d1")
    # untouched bucket paths survive into the new snapshot unchanged
    for rel in untouched_rel:
        assert rel in cat.live_paths()
    for f, blob in before.items():
        with open(f, "rb") as fh:
            assert fh.read() == blob
    left = cat.read_statements().select("subj").collect()
    assert {r.subj for r in left} == {"http://s2"}


def test_build_dedup_stages_share_one_exchange(spark, cat_root):
    """The unit-scoped dedup (lineage attribution, per parser) and the
    global dedup share ONE exchange: hash-partitioning on the quad key
    clusters both aggregates, so fixing the shadowed-unit bug must not
    cost a second full shuffle of the statement set."""
    from tripleforge.pipeline import shape_for_commit

    df = spark.createDataFrame(
        [("s", "p", "o", "iri", None, None, "g", "r1", "f", "c1", "nt")],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, "
        "obj_lang string, graph string, src_repo string, src_path string, src_commit string, "
        "parser string",
    )
    _, final = shape_for_commit(df, ParquetSnapshotCatalog(spark, cat_root))
    plan = final._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}:\n{plan}"


# ---------------------------------------------------------------------------
# ADVICE r2 regressions: commit race + legacy-manifest keep_paths
# ---------------------------------------------------------------------------
def _one_row(spark, subj):
    return spark.createDataFrame(
        [(subj, "http://p", "http://o", "iri")],
        "subj string, pred string, obj string, obj_kind string",
    )


def test_concurrent_append_rebases_onto_fresh_parent(spark, cat_root):
    """ADVICE r2: a concurrent commit publishing between this commit's
    parent read and its manifest link must NOT be dropped — the append
    re-reads the latest parent after reserving/publishing and rebases
    its live_paths, so both commits' data survive in the final store."""
    import json
    import os

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://a"), graph="urn:g", run_id="i1")

    # inject a concurrent committer that lands AFTER our sid reservation
    # (exactly the window the old code lost): patch _reserve_sid to
    # publish a foreign manifest right after reserving ours
    orig = cat._reserve_sid
    fired = {"done": False}

    def racy_reserve(parent):
        sid = orig(parent)
        if not fired["done"]:
            fired["done"] = True
            other = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
            update.insert_data(
                other, _one_row(spark, "http://concurrent"),
                graph="urn:g", run_id="race",
            )
        return sid

    cat._reserve_sid = racy_reserve
    update.insert_data(cat, _one_row(spark, "http://b"), graph="urn:g", run_id="i2")
    cat._reserve_sid = orig

    final = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    subjects = {r.subj for r in final.read_statements().select("subj").collect()}
    assert subjects == {"http://a", "http://b", "http://concurrent"}
    # the final manifest's parent chain includes the concurrent commit
    latest = final._manifest_for(None)
    assert latest["parent"] is not None


def test_concurrent_overwrite_raises(spark, cat_root):
    """An overwrite racing a concurrent commit must abort loudly (its
    anti-joins saw a stale live set), never publish a manifest that
    silently drops the concurrent commit's data."""
    from tripleforge.catalog.parquet_snapshot import ConcurrentOverwriteError

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://a"), graph="urn:g", run_id="i1")
    update.insert_data(cat, _one_row(spark, "http://b"), graph="urn:g", run_id="i2")

    orig = cat._reserve_sid
    fired = {"done": False}

    def racy_reserve(parent):
        sid = orig(parent)
        if not fired["done"]:
            fired["done"] = True
            other = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
            update.insert_data(
                other, _one_row(spark, "http://concurrent"),
                graph="urn:g", run_id="race",
            )
        return sid

    cat._reserve_sid = racy_reserve
    with pytest.raises(ConcurrentOverwriteError):
        update.delete_data(
            cat, _one_row(spark, "http://a"), graph="urn:g", run_id="d1"
        )
    cat._reserve_sid = orig
    # the concurrent commit's data is intact; the aborted overwrite
    # published nothing
    final = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    subjects = {r.subj for r in final.read_statements().select("subj").collect()}
    assert subjects == {"http://a", "http://b", "http://concurrent"}


def test_mutation_on_legacy_whole_snapshot_manifest(spark, cat_root):
    """ADVICE r2: manifests recording live paths at whole-snapshot
    granularity (no graph_bucket= segment) must not crash a mutation —
    the engine falls back to a full rewrite for such entries."""
    import json
    import os

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    rows = spark.createDataFrame(
        [
            ("http://s1", "http://p", "http://o", "iri"),
            ("http://s2", "http://p", "http://o", "iri"),
        ],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, rows, graph="urn:g", run_id="i1")
    # doctor the manifest to the legacy whole-snapshot granularity
    mpath = os.path.join(cat_root, "_snapshots", "v1.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["live_paths"] = ["data/snap=1"]
    os.unlink(mpath)
    with open(mpath, "w") as fh:
        json.dump(m, fh)

    cat2 = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.delete_data(
        cat2, _one_row(spark, "http://s1"), graph="urn:g", run_id="d1"
    )
    left = cat2.read_statements().select("subj").collect()
    assert {r.subj for r in left} == {"http://s2"}


def test_bucket_of_parses_defensively():
    from tripleforge.update import _bucket_of

    assert _bucket_of("data/snap=3/graph_bucket=17") == 17
    assert _bucket_of("data/snap=3/graph_bucket=17/part-0.parquet") == 17
    assert _bucket_of("data/snap=3") is None
    assert _bucket_of("data/snap=3/graph_bucket=oops") is None


def test_mutations_are_single_pass(spark, cat_root, monkeypatch):
    """VERDICT r2 #5: a mutation must scan its touched buckets ONCE —
    the row count rides the snapshot write via df.observe(), so no
    DataFrame.count() may run anywhere on the mutation path."""
    from pyspark.sql import DataFrame

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    rows = spark.createDataFrame(
        [
            ("http://s1", "http://p", "http://o", "iri"),
            ("http://s2", "http://p", "http://o", "iri"),
        ],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, rows, graph="urn:g", run_id="seed")

    def banned_count(self):
        raise AssertionError("DataFrame.count() called on the mutation path")

    monkeypatch.setattr(DataFrame, "count", banned_count)
    update.insert_data(
        cat, _one_row(spark, "http://s3"), graph="urn:g", run_id="i2"
    )
    update.delete_data(
        cat, _one_row(spark, "http://s1"), graph="urn:g", run_id="d1"
    )
    update.clear(cat, graph="urn:g", which="graph", run_id="c1")
    monkeypatch.undo()
    assert cat.read_statements().count() == 0
    # lineage n_triples recorded via observe() matches reality
    lin = {(r["parser"], r["n_triples"]) for r in cat.read_lineage().collect()}
    assert ("insert_data", 2) in lin   # seed batch
    assert ("insert_data", 1) in lin   # one new statement appended
    assert ("delete_data", 1) in lin   # s2: only s1's path was rewritten
    assert ("clear", 0) in lin         # clear left nothing


def _insert_first_then_build(spark, cat_root):
    """A store whose first commit is INSERT DATA, then a build: its
    lineage files start with a mutation's row."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://s0"), graph="urn:g", run_id="i0")
    cfg = BuildConfig(run_id="b1", resume=False, link_entities=False)
    return cat, cfg, _bounded(lambda: build(spark, _corpus(spark), cat, cfg))


def test_compact_links_after_insert_first_store_is_idempotent(spark, cat_root):
    from tripleforge.pipeline import compact_links

    cat, _, _ = _insert_first_then_build(spark, cat_root)
    c1 = compact_links(spark, cat, run_id="c1")
    c2 = compact_links(spark, cat, run_id="c1")
    assert c1 == c2
    assert c1.snapshot_id == cat.latest_snapshot_id()
    assert c1.n_statements == cat.read_statements().count()


def test_same_run_id_build_after_insert_first_store_reports_first_totals(spark, cat_root):
    cat, cfg, r1 = _insert_first_then_build(spark, cat_root)
    r2 = _bounded(lambda: build(spark, _corpus(spark), cat, cfg))
    assert r1.n_statements > 0
    assert r2 == r1
    assert cat.latest_snapshot_id() == r1.snapshot_id


def test_lineage_has_schema_columns_after_every_commit_kind(spark, cat_root):
    """The catalog stamps run_id/snapshot_id/committed_at and projects to
    schema.LINEAGE, whatever the writer and whichever commit came first."""
    from tripleforge.pipeline import compact_links
    from tripleforge.schema import LINEAGE

    want = [f.name for f in LINEAGE.fields]
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    assert cat.read_lineage().columns == want
    steps = [
        ("insert", lambda: update.insert_data(
            cat, _one_row(spark, "http://a"), graph="urn:g", run_id="i1")),
        ("build", lambda: build(
            spark, _corpus(spark), cat, BuildConfig(run_id="b1", link_entities=False))),
        ("compact_links", lambda: compact_links(spark, cat, run_id="c1")),
        ("delete", lambda: update.delete_data(
            cat, _one_row(spark, "http://a"), graph="urn:g", run_id="d1")),
        ("modify", lambda: update.modify(
            cat, lambda live: (None, _one_row(spark, "http://b")), run_id="m1")),
        ("graph_op", lambda: update.graph_op(cat, "copy", None, "urn:h", run_id="g1")),
        ("clear graph", lambda: update.clear(cat, graph="urn:h", run_id="x1")),
        ("clear default", lambda: update.clear(cat, which="default", run_id="x2")),
        ("compact_store", lambda: update.compact_store(cat, run_id="k1")),
        ("clear named", lambda: update.clear(cat, which="named", run_id="x3")),
        ("clear all", lambda: update.clear(cat, which="all", run_id="x4")),
    ]
    for kind, step in steps:
        _bounded(step)
        assert cat.read_lineage().columns == want, kind
    lin = cat.read_lineage()
    assert lin.where(F.col("run_id").isNull() | F.col("committed_at").isNull()).count() == 0
    # one lineage row set per commit, stamped with that commit's snapshot
    assert lin.select("snapshot_id").distinct().count() == cat.latest_snapshot_id()
    assert cat.read_statements().count() == 0


def test_delete_of_absent_triple_is_a_no_op(spark, cat_root):
    """Deleting a triple that is not in the store removes nothing —
    set semantics, the twin of test_insert_is_set_semantic."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://s1"), graph="urn:g", run_id="i1")
    update.delete_data(cat, _one_row(spark, "http://absent"), graph="urn:g", run_id="d1")
    update.delete_data(cat, _one_row(spark, "http://s1"), graph="urn:other", run_id="d2")
    left = cat.read_statements().select("subj", "graph").collect()
    assert [(r.subj, r.graph) for r in left] == [("http://s1", "urn:g")]


def test_insert_data_checks_emptiness_without_reading_the_store(spark, cat_root, monkeypatch):
    """INSERT DATA into an empty catalog tells it is empty from the
    snapshot log: it never reads the statements."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)

    def banned_read(*a, **kw):
        raise AssertionError("read_statements() on an empty catalog")

    monkeypatch.setattr(cat, "read_statements", banned_read)
    update.insert_data(cat, _one_row(spark, "http://s1"), graph="urn:g", run_id="i1")
    monkeypatch.undo()
    assert cat.read_statements().count() == 1


# ---------------------------------------------------------------------------
# Path-granular DELETE DATA: only the live paths holding a deleted row
# ---------------------------------------------------------------------------
def _two_path_bucket(spark, cat_root):
    """One graph whose bucket holds two live paths: a base insert of s1
    and s2, then a later insert of s3."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    base = spark.createDataFrame(
        [
            ("http://s1", "http://p", "http://o", "iri"),
            ("http://s2", "http://p", "http://o", "iri"),
        ],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, base, graph="urn:g", run_id="base")
    (base_path,) = cat.live_paths()
    update.insert_data(cat, _one_row(spark, "http://s3"), graph="urn:g", run_id="later")
    (later_path,) = [p for p in cat.live_paths() if p != base_path]
    return cat, base_path, later_path


def _file_bytes(cat_root, rel):
    out = {}
    for f in glob.glob(os.path.join(cat_root, rel, "*.parquet")):
        with open(f, "rb") as fh:
            out[f] = fh.read()
    return out


def _subjects(cat):
    return {r.subj for r in cat.read_statements().select("subj").collect()}


def test_delete_of_a_later_triple_keeps_the_base_path_verbatim(spark, cat_root):
    cat, base, later = _two_path_bucket(spark, cat_root)
    blobs = _file_bytes(cat_root, base)
    assert blobs
    update.delete_data(cat, _one_row(spark, "http://s3"), graph="urn:g", run_id="d1")
    assert cat.live_paths() == [base]
    assert _file_bytes(cat_root, base) == blobs
    assert _subjects(cat) == {"http://s1", "http://s2"}


def test_delete_of_a_base_triple_rewrites_only_the_base_path(spark, cat_root):
    cat, base, later = _two_path_bucket(spark, cat_root)
    blobs = _file_bytes(cat_root, later)
    update.delete_data(cat, _one_row(spark, "http://s1"), graph="urn:g", run_id="d1")
    live = cat.live_paths()
    assert later in live and base not in live and len(live) == 2
    assert _file_bytes(cat_root, later) == blobs
    assert _subjects(cat) == {"http://s2", "http://s3"}
    lin = {(r.parser, r.n_triples) for r in cat.read_lineage().collect()}
    assert ("delete_data", 1) in lin  # the rows of the one rewritten path


def test_delete_of_an_absent_triple_writes_no_data_file(spark, cat_root):
    cat, _, _ = _two_path_bucket(spark, cat_root)
    before = cat.live_paths()
    sid = update.delete_data(cat, _one_row(spark, "http://absent"), graph="urn:g", run_id="d1")
    assert sid == cat.latest_snapshot_id()
    assert cat.live_paths() == before
    written = glob.glob(os.path.join(cat_root, f"data/snap={sid}", "**", "*.parquet"), recursive=True)
    assert written == []
    assert _subjects(cat) == {"http://s1", "http://s2", "http://s3"}


def test_delete_on_a_legacy_manifest_rewrites_only_the_paths_it_hits(spark, cat_root):
    """A whole-snapshot live path (no bucket segment) is one more path:
    carried over when it holds no deleted row, rewritten whole when it
    does."""
    import json

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    rows = spark.createDataFrame(
        [
            ("http://s1", "http://p", "http://o", "iri"),
            ("http://s2", "http://p", "http://o", "iri"),
        ],
        "subj string, pred string, obj string, obj_kind string",
    )
    update.insert_data(cat, rows, graph="urn:g", run_id="i1")
    mpath = os.path.join(cat_root, "_snapshots", "v1.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["live_paths"] = ["data/snap=1"]
    os.unlink(mpath)
    with open(mpath, "w") as fh:
        json.dump(m, fh)

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://s3"), graph="urn:g", run_id="i2")
    update.delete_data(cat, _one_row(spark, "http://s3"), graph="urn:g", run_id="d1")
    assert cat.live_paths() == ["data/snap=1"]
    assert _subjects(cat) == {"http://s1", "http://s2"}
    update.delete_data(cat, _one_row(spark, "http://s1"), graph="urn:g", run_id="d2")
    assert "data/snap=1" not in cat.live_paths()
    assert _subjects(cat) == {"http://s2"}


def test_path_granular_delete_raises_on_a_race(spark, cat_root):
    from tripleforge.catalog.parquet_snapshot import ConcurrentOverwriteError

    cat, _, _ = _two_path_bucket(spark, cat_root)
    orig = cat._reserve_sid

    def racy_reserve(parent):
        sid = orig(parent)
        cat._reserve_sid = orig
        other = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
        update.insert_data(
            other, _one_row(spark, "http://concurrent"), graph="urn:g", run_id="race"
        )
        return sid

    cat._reserve_sid = racy_reserve
    with pytest.raises(ConcurrentOverwriteError):
        update.delete_data(cat, _one_row(spark, "http://s3"), graph="urn:g", run_id="d1")
    final = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    assert _subjects(final) == {"http://s1", "http://s2", "http://s3", "http://concurrent"}


def _race_before_the_reservation(spark, cat, cat_root):
    """Make ``cat``'s next commit meet a concurrent INSERT DATA, published
    by a second catalog instance after the commit read its parent and
    before it reserves its snapshot id."""
    orig = cat._reserve_sid

    def racy_reserve(parent):
        cat._reserve_sid = orig
        other = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
        update.insert_data(
            other, _one_row(spark, "http://concurrent"), graph="urn:g", run_id="race"
        )
        return orig(parent)

    cat._reserve_sid = racy_reserve


def test_delete_raises_on_a_race_before_the_reservation(spark, cat_root):
    from tripleforge.catalog.parquet_snapshot import ConcurrentOverwriteError

    cat, _, _ = _two_path_bucket(spark, cat_root)
    _race_before_the_reservation(spark, cat, cat_root)
    with pytest.raises(ConcurrentOverwriteError):
        update.delete_data(cat, _one_row(spark, "http://s3"), graph="urn:g", run_id="d1")
    final = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    assert _subjects(final) == {"http://s1", "http://s2", "http://s3", "http://concurrent"}


def test_compact_links_raises_on_a_race_before_the_reservation(spark, cat_root):
    from tripleforge.catalog.parquet_snapshot import ConcurrentOverwriteError
    from tripleforge.pipeline import compact_links

    cat, _, _ = _two_path_bucket(spark, cat_root)
    _race_before_the_reservation(spark, cat, cat_root)
    with pytest.raises(ConcurrentOverwriteError):
        compact_links(spark, cat, run_id="c1")
    final = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    assert _subjects(final) == {"http://s1", "http://s2", "http://s3", "http://concurrent"}


# ---------------------------------------------------------------------------
# Lineage rows of a mixed-format corpus with error rows, pinned
# ---------------------------------------------------------------------------
_RDFXML = (
    '<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
    'xmlns:ex="http://ex.org/">\n<rdf:Description rdf:about="http://ex.org/d1">'
    '<ex:name>Dee</ex:name><ex:knows rdf:resource="http://ex.org/d2"/></rdf:Description>\n'
    "</rdf:RDF>\n"
)
# seven files in four units: nt, ttl, nq and rdfxml; malformed lines in
# three units, and a unit (org/r2, c2) whose one file has only errors
MIXED_CORPUS = [
    ("org/r1", "a.nt", "c1", "N-Triples",
     "<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> .\n"
     '<http://ex.org/a> <http://ex.org/p> "x"@en .\n'
     "<http://ex.org/a> <http://ex.org/p> .\n"),
    ("org/r1", "g.nt", "c1", "N-Triples",
     "<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> .\n"
     '<http://ex.org/g> <http://ex.org/p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'),
    ("org/r1", "b.ttl", "c1", "Turtle",
     '@prefix ex: <http://ex.org/> .\nex:t1 ex:p ex:t2 ; ex:q "lit" .\n'),
    ("org/r1", "c.nq", "c2", "N-Quads",
     "<http://ex.org/q1> <http://ex.org/p> <http://ex.org/q2> <http://ex.org/G> .\n"
     '<http://ex.org/q1> <http://ex.org/p> "v" <http://ex.org/G> .\n'
     '<http://ex.org/q1> <http://ex.org/p> "broken <http://ex.org/G> .\n'),
    ("org/r2", "d.rdf", "c1", "RDF/XML", _RDFXML),
    ("org/r2", "e.nt", "c1", "N-Triples",
     '<http://ex.org/e1> <http://ex.org/name> "Eee" .\nnot a triple at all\n'),
    ("org/r2", "f.nt", "c2", "N-Triples", "garbage line one\n<http://ex.org/x> <http://ex.org/p>\n"),
]
MIXED_CORPUS_DDL = "repo string, path string, commit string, lang string, content string"
LINEAGE_ROW = ["repo", "commit", "parser", "n_files", "n_triples", "n_errors", "checksum"]


def test_mixed_corpus_lineage_rows_are_pinned(spark, cat_root):
    """Every lineage row of a build, checksums included; the unit with
    only errors has 0 files and triples and a null checksum."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    corpus = spark.createDataFrame(MIXED_CORPUS, MIXED_CORPUS_DDL)
    res = build(spark, corpus, cat, BuildConfig(run_id="b", link_entities=False))
    assert (res.n_statements, res.n_errors) == (10, 5)
    rows = sorted(tuple(r) for r in cat.read_lineage().select(*LINEAGE_ROW).collect())
    assert rows == [
        ("org/r1", "c1", "nt", 2, 3, 1, "A00668575FE30B0F"),
        ("org/r1", "c1", "ttl", 1, 2, 0, "ABD14C856976C738"),
        ("org/r1", "c2", "nq", 1, 2, 1, "894FACCED61A79B0"),
        ("org/r2", "c1", "nt", 1, 1, 1, "930286899F52E830"),
        ("org/r2", "c1", "rdfxml", 1, 2, 0, "2DC39434BBB6F97A"),
        ("org/r2", "c2", "nt", 0, 0, 2, None),
    ]


def test_a_quad_two_parsers_share_counts_in_both_lineage_rows(spark, tmp_path):
    """An RDF/XML file and an N-Triples file of one unit share a triple:
    each parser's lineage row is the one its file gives in a unit of its
    own, whichever copy the dedup keeps."""
    nt = ("org/r", "d.nt", "c1", "N-Triples", '<http://ex.org/d1> <http://ex.org/name> "Dee" .\n')
    rdf = ("org/r", "d.rdf", "c1", "RDF/XML", _RDFXML)

    def rows(tag, files):
        cat = ParquetSnapshotCatalog(spark, str(tmp_path / tag), n_buckets=4)
        corpus = spark.createDataFrame(files, MIXED_CORPUS_DDL)
        build(spark, corpus, cat, BuildConfig(run_id=tag, link_entities=False))
        return sorted(tuple(r) for r in cat.read_lineage().select(*LINEAGE_ROW).collect())

    both = rows("both", [nt, rdf])
    assert [r[2:5] for r in both] == [("nt", 1, 1), ("rdfxml", 1, 2)]
    assert both == rows("nt", [nt]) + rows("rdf", [rdf])


def test_move_copies_what_its_commit_reads(spark, cat_root):
    """A concurrent INSERT into the source graph that publishes before
    MOVE pins its snapshot is moved with the rest: MOVE leaves the
    source graph empty."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://s1"), graph="urn:src", run_id="i1")
    orig = cat.latest_snapshot_id

    def racy_latest():
        cat.latest_snapshot_id = orig
        other = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
        update.insert_data(other, _one_row(spark, "http://s2"), graph="urn:src", run_id="race")
        return orig()

    cat.latest_snapshot_id = racy_latest
    update.graph_op(cat, "move", "urn:src", "urn:dst", run_id="m1")
    final = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    got = {(r.graph, r.subj) for r in final.read_statements().collect()}
    assert got == {("urn:dst", "http://s1"), ("urn:dst", "http://s2")}


def test_delete_where_matches_what_its_commit_reads(spark, cat_root):
    """DELETE … WHERE evaluates its WHERE on the snapshot it commits
    against: a concurrent INSERT into the graph that publishes before
    the pin is matched and deleted with the rest."""
    from tripleforge.sparql_update import execute_update

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    execute_update(spark, cat, "INSERT DATA { GRAPH <urn:g> { <urn:s1> <urn:p> <urn:o> } }")
    orig = cat.latest_snapshot_id
    raced = []

    def racy_latest():
        cat.latest_snapshot_id = orig
        other = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
        raced.append(
            execute_update(spark, other, "INSERT DATA { GRAPH <urn:g> { <urn:s2> <urn:p> <urn:o> } }")
        )
        return orig()

    cat.latest_snapshot_id = racy_latest
    execute_update(
        spark, cat,
        "DELETE { GRAPH <urn:g> { ?s ?p ?o } } WHERE { GRAPH <urn:g> { ?s ?p ?o } }",
    )
    assert raced  # the concurrent INSERT DATA published
    final = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    assert final.read_statements().count() == 0


def test_overwrite_commit_needs_the_snapshot_it_read(spark, cat_root):
    """An overwrite that does not say which snapshot it read is refused
    before it writes anything."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    row = _one_row(spark, "http://s1")
    with pytest.raises(ValueError, match="base_snapshot_id"):
        cat.commit_snapshot(row, row, run_id="o1", operation="overwrite")
    assert cat.latest_snapshot_id() is None


# ---------------------------------------------------------------------------
# One manifest parsed per op; a rebase re-stamps the lineage it computed
# ---------------------------------------------------------------------------
def test_ops_parse_one_manifest_on_a_long_snapshot_log(spark, cat_root, monkeypatch):
    """A manifest is chosen by its file name: telling the latest id
    parses none, and a read, a live-path listing or a commit parses one
    or two, however many snapshots the log holds (50 here)."""
    import json

    from tripleforge.catalog import parquet_snapshot

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://s0"), graph="urn:g", run_id="i0")
    with open(os.path.join(cat_root, "_snapshots", "v1.json")) as fh:
        first = json.load(fh)
    for sid in range(2, 51):
        with open(os.path.join(cat_root, "_snapshots", f"v{sid}.json"), "w") as fh:
            json.dump({**first, "snapshot_id": sid, "run_id": f"r{sid}", "parent": sid - 1}, fh)
    parsed = []

    class CountingJson:
        dump, dumps = staticmethod(json.dump), staticmethod(json.dumps)

        @staticmethod
        def load(fh):
            parsed.append(fh)
            return json.load(fh)

        @staticmethod
        def loads(text):
            parsed.append(text)
            return json.loads(text)

    monkeypatch.setattr(parquet_snapshot, "json", CountingJson)

    def parses(fn):
        parsed.clear()
        fn()
        return len(parsed)

    assert parses(cat.latest_snapshot_id) == 0
    assert parses(cat.read_statements) == 1
    assert parses(lambda: cat.live_paths(20)) == 1
    insert = lambda subj, rid: update.insert_data(  # noqa: E731
        cat, _one_row(spark, subj), graph="urn:g", run_id=rid
    )
    # the probe's read and the commit's parent
    assert parses(lambda: insert("http://s1", "i1")) == 2
    assert cat.latest_snapshot_id() == 51
    # an already-committed run id: the probe's read and the one manifest holding it
    assert parses(lambda: insert("http://s2", "r20")) == 2
    assert cat.latest_snapshot_id() == 51
    assert _subjects(cat) == {"http://s0", "http://s1"}


def test_rebased_build_restamps_the_lineage_it_computed_once(spark, cat_root, monkeypatch):
    """A build whose commit meets a concurrent one after reserving its
    id rebases onto it: its lineage rows carry the final snapshot id,
    and their aggregate ran once (the rebase re-stamps the same rows)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, _one_row(spark, "http://a"), graph="urn:g", run_id="i1")
    frame = type(spark.range(1))
    to_arrow, collected = frame.toArrow, []

    def counted(df):
        collected.append(df)
        return to_arrow(df)

    monkeypatch.setattr(frame, "toArrow", counted)
    orig = cat._reserve_sid

    def racy_reserve(after):
        sid = orig(after)
        cat._reserve_sid = orig
        other = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
        update.insert_data(other, _one_row(spark, "http://concurrent"), graph="urn:g", run_id="race")
        return sid

    cat._reserve_sid = racy_reserve
    res = build(spark, _corpus(spark), cat, BuildConfig(run_id="b1", link_entities=False))
    assert len(collected) == 1
    assert res.snapshot_id == cat.latest_snapshot_id() == 4  # 2 reserved, 3 the race
    lin = cat.read_lineage().where(F.col("run_id") == "b1")
    assert {r.snapshot_id for r in lin.select("snapshot_id").collect()} == {4}
    assert lin.agg(F.sum("n_triples")).first()[0] == res.n_statements > 0
    assert {"http://a", "http://concurrent"} <= _subjects(cat)
