"""Cross-run linking compaction (D10) and the OPTIONAL left join of two BGPs."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tripleforge.catalog import ParquetSnapshotCatalog
from tripleforge.pipeline import BuildConfig, build, compact_links
from tripleforge.query import Pattern, bgp, left_join_optional
from tripleforge.schema import CORPUS, OWL_SAMEAS


@pytest.fixture()
def cat_root():
    root = tempfile.mkdtemp(prefix="tfcmp_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _corpus(spark, repo, content):
    return spark.createDataFrame(
        [(repo, "f.nt", f"c-{repo}", "N-Triples", content)], CORPUS
    )


def test_compact_links_across_runs(spark, cat_root):
    """A transitive sameAs chain SPANNING two builds (c→b in run 1,
    b→a in run 2) only resolves fully at compaction time — each run's
    internal linking sees just its own slice."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    build(
        spark,
        _corpus(
            spark,
            "r1",
            '<http://ex/c> <http://ex/p> "v1" .\n'
            f"<http://ex/c> <{OWL_SAMEAS}> <http://ex/b> .\n",
        ),
        cat,
        BuildConfig(run_id="b1"),
    )
    build(
        spark,
        _corpus(
            spark,
            "r2",
            '<http://ex/b> <http://ex/p> "v2" .\n'
            f"<http://ex/b> <{OWL_SAMEAS}> <http://ex/a> .\n",
        ),
        cat,
        BuildConfig(run_id="b2"),
    )
    data_subjects = lambda df: {  # noqa: E731
        r.subj for r in df.where(F.col("pred") == "http://ex/p").collect()
    }
    # per-run linking: run1 resolved c→b; run2 resolved b→a; the chain
    # across runs is still unresolved
    assert data_subjects(cat.read_statements()) == {"http://ex/b", "http://ex/a"}
    res = compact_links(spark, cat, run_id="cmp1")
    after = cat.read_statements()
    # full closure: every data statement under the component minimum
    assert data_subjects(after) == {"http://ex/a"}
    assert {r.obj for r in after.where(F.col("pred") == "http://ex/p").collect()} == {
        "v1", "v2",
    }
    # sameAs provenance preserved as asserted
    assert after.where(F.col("pred") == OWL_SAMEAS).count() == 2
    # time travel still sees the pre-compaction store
    assert data_subjects(cat.read_statements(snapshot_id=res.snapshot_id - 1)) == {
        "http://ex/b", "http://ex/a",
    }
    # resume bookkeeping survives the overwrite
    committed = {
        (r.repo, r.commit) for r in cat.committed_units().collect() if r.repo
    }
    assert ("r1", "c-r1") in committed and ("r2", "c-r2") in committed


def test_bgp_optional(spark):
    stmts = spark.createDataFrame(
        [
            ("http://d1", "urn:p:type", "urn:t:Doc", "iri", None, None, "g"),
            ("http://d2", "urn:p:type", "urn:t:Doc", "iri", None, None, "g"),
            ("http://d1", "urn:p:title", "Title 1", "literal", None, None, "g"),
        ],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string, graph string",
    )
    out = left_join_optional(
        bgp(stmts, [Pattern(s="?d", p="urn:p:type", o="urn:t:Doc")]),
        bgp(stmts, [Pattern(s="?d", p="urn:p:title", o="?title")]),
    )
    rows = {r.d: r.title for r in out.collect()}
    assert rows == {"http://d1": "Title 1", "http://d2": None}


def test_bgp_optional_requires_shared_var(spark):
    stmts = spark.createDataFrame(
        [("s", "p", "o", "iri", None, None, "g")],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string, graph string",
    )
    with pytest.raises(ValueError):
        left_join_optional(
            bgp(stmts, [Pattern(s="?a", p="p", o="?b")]),
            bgp(stmts, [Pattern(s="?x", p="q", o="?y")]),
        ).collect()
