"""Dataset clauses (SPARQL 1.1 §13.2): FROM merges the listed graphs
into the query's default graph; FROM NAMED restricts what GRAPH
clauses can see. Compiled as a dataset view (marker-relabelled default
rows ∪ FROM NAMED subset) + pattern rewrite — plain bound-graph scans.
Reference analog: RDF4J dataset handling on SPARQLRepository (public
behavior of jgrzebyta/triple-loader); /root/reference is empty."""

from __future__ import annotations

import pytest

from tripleforge import sparql

SCHEMA = (
    "subj string, pred string, obj string, obj_kind string, "
    "obj_dt string, obj_lang string, graph string"
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        ("urn:a", "urn:p", "1", "literal", None, None, "urn:g1"),
        ("urn:b", "urn:p", "2", "literal", None, None, "urn:g2"),
        ("urn:c", "urn:p", "3", "literal", None, None, "urn:g3"),
        ("urn:a", "urn:q", "urn:b", "iri", None, None, "urn:g1"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _vals(df_, col):
    return sorted(r[col] for r in df_.collect())


def test_from_merges_default_graph(df):
    out = sparql.select(
        df, "SELECT ?s FROM <urn:g1> FROM <urn:g2> WHERE { ?s <urn:p> ?o }"
    )
    assert _vals(out, "s") == ["urn:a", "urn:b"]


def test_from_only_hides_graph_clauses(df):
    """With FROM but no FROM NAMED the named-graph set is EMPTY."""
    out = sparql.select(
        df,
        "SELECT ?s ?g FROM <urn:g1> WHERE { GRAPH ?g { ?s <urn:p> ?o } }",
    )
    assert out.count() == 0


def test_from_named_only_empties_default(df):
    out = sparql.select(
        df, "SELECT ?s FROM NAMED <urn:g2> WHERE { ?s <urn:p> ?o }"
    )
    assert out.count() == 0


def test_from_named_graph_var(df):
    out = sparql.select(
        df,
        "SELECT ?s ?g FROM NAMED <urn:g2> FROM NAMED <urn:g3> "
        "WHERE { GRAPH ?g { ?s <urn:p> ?o } }",
    )
    assert {(r["s"], r["g"]) for r in out.collect()} == {
        ("urn:b", "urn:g2"), ("urn:c", "urn:g3"),
    }


def test_graph_constant_restricted_to_named(df):
    hit = sparql.select(
        df,
        "SELECT ?s FROM <urn:g1> FROM NAMED <urn:g3> "
        "WHERE { GRAPH <urn:g3> { ?s <urn:p> ?o } }",
    )
    assert _vals(hit, "s") == ["urn:c"]
    miss = sparql.select(
        df,
        "SELECT ?s FROM <urn:g1> FROM NAMED <urn:g3> "
        "WHERE { GRAPH <urn:g2> { ?s <urn:p> ?o } }",
    )
    assert miss.count() == 0


def test_ask_and_construct_with_dataset(df):
    assert sparql.ask(df, 'ASK FROM <urn:g3> { ?s <urn:p> "3" }').first()["ask"]
    assert not sparql.ask(df, 'ASK FROM <urn:g1> { ?s <urn:p> "3" }').first()["ask"]
    out = sparql.construct(
        df,
        "CONSTRUCT { ?s <urn:r> ?o } FROM <urn:g2> WHERE { ?s <urn:p> ?o }",
    )
    assert [(r["subj"], r["obj"]) for r in out.collect()] == [("urn:b", "2")]


def test_dataset_with_filter_and_join(df):
    """Dataset view composes with multi-pattern BGPs and FILTER."""
    out = sparql.select(
        df,
        "SELECT ?s ?o FROM <urn:g1> FROM <urn:g2> WHERE { "
        "?s <urn:q> ?x . ?s <urn:p> ?o . FILTER(?o = \"1\") }",
    )
    assert [(r["s"], r["o"]) for r in out.collect()] == [("urn:a", "1")]


def test_no_dataset_unchanged(df):
    out = sparql.select(df, "SELECT ?s WHERE { ?s <urn:p> ?o }")
    assert _vals(out, "s") == ["urn:a", "urn:b", "urn:c"]


def test_dataset_with_union(df):
    """FROM applies to every UNION arm (per-arm pattern rewrite)."""
    out = sparql.select(
        df,
        "SELECT ?s FROM <urn:g1> FROM <urn:g3> WHERE { "
        '{ ?s <urn:p> "1" } UNION { ?s <urn:p> "3" } }',
    )
    assert _vals(out, "s") == ["urn:a", "urn:c"]
    # an arm matching only an excluded graph contributes nothing
    out = sparql.select(
        df,
        "SELECT ?s FROM <urn:g1> WHERE { "
        '{ ?s <urn:p> "1" } UNION { ?s <urn:p> "2" } }',
    )
    assert _vals(out, "s") == ["urn:a"]


def test_dataset_with_minus_and_exists(df):
    """MINUS / EXISTS sub-patterns evaluate inside the same dataset."""
    out = sparql.select(
        df,
        "SELECT ?s FROM <urn:g1> FROM <urn:g2> WHERE { "
        "?s <urn:p> ?o . MINUS { ?s <urn:q> ?x } }",
    )
    # urn:a has a q edge in g1 → minused; urn:b survives
    assert _vals(out, "s") == ["urn:b"]
    out = sparql.select(
        df,
        "SELECT ?s FROM <urn:g2> WHERE { "
        "?s <urn:p> ?o . MINUS { ?s <urn:q> ?x } }",
    )
    # with only g2 in the dataset the q edge (g1) is invisible → no minus
    assert _vals(out, "s") == ["urn:b"]


def test_dataset_with_subquery(df):
    """A subquery inside a FROM query evaluates against the same
    dataset view (its patterns are rewritten recursively)."""
    out = sparql.select(
        df,
        "SELECT ?s ?n FROM <urn:g1> FROM <urn:g2> WHERE { "
        "?s <urn:p> ?o . "
        "{ SELECT (COUNT(*) AS ?n) WHERE { ?x <urn:p> ?y } } }",
        allow_cartesian=True,
    )
    rows = out.collect()
    assert sorted(r["s"] for r in rows) == ["urn:a", "urn:b"]
    assert all(r["n"] == 2 for r in rows)  # counts only g1+g2 rows


@pytest.fixture(scope="module")
def blocks_df(spark):
    # the default graph is <urn:g1>; every block's matching triple sits
    # only in <urn:g2>, so a block that escaped the rewrite would see it
    rows = [
        ("urn:a", "urn:p", "1", "literal", None, None, "urn:g1"),
        ("urn:b", "urn:p", "2", "literal", None, None, "urn:g1"),
        ("urn:a", "urn:q", "x", "literal", None, None, "urn:g2"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.mark.parametrize(
    "query, expected",
    [
        pytest.param(
            "SELECT ?s ?f FROM <urn:g1> WHERE { "
            "?s <urn:p> ?o OPTIONAL { ?s <urn:q> ?f } }",
            {("urn:a", None), ("urn:b", None)},
            id="group-optional",
        ),
        pytest.param(
            "SELECT ?s ?f FROM <urn:g1> WHERE { ?s <urn:p> ?o "
            "OPTIONAL { ?s <urn:p> ?w OPTIONAL { ?s <urn:q> ?f } } }",
            {("urn:a", None), ("urn:b", None)},
            id="optional-in-optional",
        ),
        pytest.param(
            "SELECT ?s FROM <urn:g1> WHERE { ?s <urn:p> ?o MINUS { "
            "?s <urn:p> ?w OPTIONAL { ?s <urn:q> ?f } FILTER(BOUND(?f)) } }",
            {("urn:a",), ("urn:b",)},
            id="optional-in-minus",
        ),
        pytest.param(
            "SELECT ?s FROM <urn:g1> WHERE { "
            "?s <urn:p> ?o FILTER NOT EXISTS { ?s <urn:q> ?f } }",
            {("urn:a",), ("urn:b",)},
            id="filter-not-exists",
        ),
        pytest.param(
            "SELECT ?s FROM <urn:g1> WHERE { ?s <urn:p> ?o MINUS { "
            "{ ?s <urn:q> ?f } UNION { ?s <urn:r> ?f } } }",
            {("urn:a",), ("urn:b",)},
            id="union-in-minus",
        ),
        pytest.param(
            "SELECT ?s ?g FROM <urn:g1> FROM NAMED <urn:g2> WHERE { "
            "?s <urn:p> ?o OPTIONAL { GRAPH ?g { ?s ?pp ?f } } }",
            {("urn:a", "urn:g2"), ("urn:b", None)},
            id="graph-var-in-optional",
        ),
        pytest.param(
            "SELECT ?s FROM <urn:g1> FROM NAMED <urn:g2> WHERE { "
            "?s <urn:p> ?o MINUS { GRAPH ?g { ?s <urn:p> ?w } } }",
            {("urn:a",), ("urn:b",)},
            id="graph-var-in-minus",
        ),
        pytest.param(
            "SELECT ?s FROM <urn:g1> FROM NAMED <urn:g2> WHERE { "
            "?s <urn:p> ?o FILTER EXISTS { GRAPH ?g { ?s ?pp ?f } } }",
            {("urn:a",)},
            id="graph-var-in-exists",
        ),
    ],
)
def test_dataset_rewrite_reaches_every_block(blocks_df, query, expected):
    """FROM scopes, and FROM NAMED restricts GRAPH ?var in, every block
    kind of the WHERE clause: the default-graph marker never binds a
    graph variable, and no block sees a graph outside the dataset."""
    out = sparql.select(blocks_df, query)
    assert {tuple(r) for r in out.collect()} == expected
