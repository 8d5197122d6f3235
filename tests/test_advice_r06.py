"""Regression tests for the ADVICE r5 correctness findings fixed in r6:

1. WITH <g> must scope MINUS/EXISTS blocks inside an update WHERE
   (SPARQL 1.1 Update §3.1.3 scopes the whole WHERE clause).
2. incremental.write_state must refuse state_dir == prior_dir
   (overwrite would delete the prior state while reading it).
3. codecs.image_features must not average the alpha channel into the
   luma for grayscale+alpha images.
"""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest

from tripleforge import sparql
from tripleforge.catalog import ParquetSnapshotCatalog


@pytest.fixture()
def cat_root():
    root = tempfile.mkdtemp(prefix="tfadvice_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _seed(spark, cat):
    sparql.execute_update(
        spark, cat,
        """
        INSERT DATA {
          GRAPH <urn:g1> {
            <urn:a> <urn:p:age> 30 .
            <urn:b> <urn:p:age> 40 .
          }
          GRAPH <urn:g2> {
            <urn:a> <urn:p:age> 30 .
            <urn:a> <urn:p:flag> "x" .
          }
        }
        """,
        run_id="seed",
    )


def test_with_scopes_minus_in_update_where(spark, cat_root):
    """The MINUS block's flag triple exists only in g2; under
    WITH <urn:g1> it must NOT remove urn:a from the match (the old
    shallow injection left g=None inside MINUS, matching all graphs)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        WITH <urn:g1>
        DELETE { ?s <urn:p:age> ?v }
        WHERE { ?s <urn:p:age> ?v . MINUS { ?s <urn:p:flag> "x" } }
        """,
        run_id="m1",
    )
    left = {
        (r.subj, r.pred, r.graph)
        for r in cat.read_statements().select("subj", "pred", "graph").collect()
    }
    # both g1 ages deleted (MINUS matched nothing within g1); g2 intact
    assert ("urn:a", "urn:p:age", "urn:g1") not in left
    assert ("urn:b", "urn:p:age", "urn:g1") not in left
    assert ("urn:a", "urn:p:age", "urn:g2") in left
    assert ("urn:a", "urn:p:flag", "urn:g2") in left


def test_with_scopes_exists_in_update_where(spark, cat_root):
    """FILTER EXISTS inside WITH <g1>: the flag lives only in g2, so
    EXISTS must fail for every g1 row and nothing may be deleted."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        WITH <urn:g1>
        DELETE { ?s <urn:p:age> ?v }
        WHERE { ?s <urn:p:age> ?v . FILTER EXISTS { ?s <urn:p:flag> "x" } }
        """,
        run_id="e1",
    )
    left = {
        (r.subj, r.pred, r.graph)
        for r in cat.read_statements().select("subj", "pred", "graph").collect()
    }
    assert ("urn:a", "urn:p:age", "urn:g1") in left
    assert ("urn:b", "urn:p:age", "urn:g1") in left


def test_write_state_refuses_self_overwrite(spark, tmp_path):
    from tripleforge import incremental

    docs = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot")],
        "doc_id long, text string",
    )
    d = str(tmp_path / "state")
    incremental.write_state(docs, d)
    with pytest.raises(ValueError, match="same\\s+directory|fresh directory"):
        incremental.write_state(docs, d, prior_dir=d)
    # distinct dirs still work (and merge)
    d2 = str(tmp_path / "state2")
    incremental.write_state(docs, d2, prior_dir=d)
    assert incremental.spark_read(spark, d2, incremental.FP_DIR).count() == 2


def test_image_features_grayscale_alpha_ignores_alpha():
    from tripleforge.codecs import image_features

    luma = np.full((8, 8), 100, dtype=np.uint8)
    a_opaque = np.dstack([luma, np.full((8, 8), 255, dtype=np.uint8)])
    a_clear = np.dstack([luma, np.zeros((8, 8), dtype=np.uint8)])
    f1 = image_features(a_opaque, dim=4)
    f2 = image_features(a_clear, dim=4)
    # features depend on pixel content, not transparency
    assert np.allclose(f1, f2)
    assert np.allclose(f1, 100 / 255.0)


@pytest.mark.parametrize(
    "where, expected",
    [
        pytest.param(
            "?s <urn:p:age> ?v . OPTIONAL { ?s <urn:p:flag> ?f } "
            'BIND(IF(BOUND(?f), "y", "n") AS ?n)',
            {("urn:a", "n"), ("urn:b", "n")},
            id="group-optional",
        ),
        pytest.param(
            '?s <urn:p:age> ?v . BIND("n" AS ?n) MINUS { ?s <urn:p:age> ?w '
            "OPTIONAL { ?s <urn:p:flag> ?f } FILTER(BOUND(?f)) }",
            {("urn:a", "n"), ("urn:b", "n")},
            id="optional-in-minus",
        ),
        pytest.param(
            '?s <urn:p:age> ?v . BIND("n" AS ?n) '
            'FILTER NOT EXISTS { ?s <urn:p:flag> "x" }',
            {("urn:a", "n"), ("urn:b", "n")},
            id="filter-not-exists",
        ),
        pytest.param(
            '?s <urn:p:age> ?v . BIND("n" AS ?n) MINUS { '
            '{ ?s <urn:p:flag> "x" } UNION { ?s <urn:p:other> ?z } }',
            {("urn:a", "n"), ("urn:b", "n")},
            id="union-in-minus",
        ),
        pytest.param(
            "?s <urn:p:age> ?v . { SELECT ?s ?n WHERE { ?s <urn:p:age> ?w "
            "OPTIONAL { ?s <urn:p:flag> ?f } "
            'BIND(IF(BOUND(?f), "y", "n") AS ?n) } }',
            {("urn:a", "n"), ("urn:b", "n")},
            id="subquery",
        ),
    ],
)
def test_with_scopes_every_block_in_update_where(spark, cat_root, where, expected):
    """WITH <g1> scopes every default-graph pattern of the WHERE clause,
    in every block kind. The flag triple the blocks look for lives only
    in g2, so both g1 subjects match with ?n = "n"; had a block escaped
    the scoping, urn:a would be dropped or bound to "y"."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed(spark, cat)
    sparql.execute_update(
        spark, cat,
        f"WITH <urn:g1> INSERT {{ ?s <urn:p:hit> ?n }} WHERE {{ {where} }}",
        run_id="w1",
    )
    hits = {
        (r.subj, r.obj)
        for r in cat.read_statements()
        .where("pred = 'urn:p:hit' AND graph = 'urn:g1'")
        .select("subj", "obj")
        .collect()
    }
    assert hits == expected
