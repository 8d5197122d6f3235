"""Round-5b SPARQL nesting lifts (VERDICT r4 "What's missing" #4 tail):
OPTIONAL / MINUS / FILTER [NOT] EXISTS nested INSIDE each other's
blocks, and GRAPH patterns nested inside GRAPH. Reference analog:
SPARQL 1.1 REC §18.2 translation + §18.3 evaluation semantics (public;
/root/reference is empty)."""

from __future__ import annotations

import pytest

from tripleforge import sparql
from tripleforge.sparql_lex import SparqlError

SCHEMA = (
    "subj string, pred string, obj string, obj_kind string, "
    "obj_dt string, obj_lang string, graph string"
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        ("urn:d1", "urn:p:a", "10", "literal", None, None, "urn:g1"),
        ("urn:d2", "urn:p:a", "20", "literal", None, None, "urn:g1"),
        ("urn:d3", "urn:p:a", "30", "literal", None, None, "urn:g1"),
        ("urn:d1", "urn:p:score", "5", "literal", None, None, "urn:g1"),
        ("urn:d2", "urn:p:score", "9", "literal", None, None, "urn:g1"),
        ("urn:d3", "urn:p:score", "9", "literal", None, None, "urn:g1"),
        ("urn:d1", "urn:p:tag", "t1", "literal", None, None, "urn:g1"),
        ("urn:d2", "urn:p:tag", "t2", "literal", None, None, "urn:g1"),
        ("urn:d2", "urn:p:flag", "y", "literal", None, None, "urn:g1"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _set(out, *cols):
    return {tuple(r[c] for c in cols) for r in out.collect()}


# ---------------------------------------------------------------------------
# OPTIONAL nested inside OPTIONAL
# ---------------------------------------------------------------------------
def test_optional_inside_optional(df):
    """The classic Wikidata shape: the inner OPTIONAL extends the OUTER
    block's solutions; a subject matching the outer block but not the
    inner keeps the outer binding with the inner null."""
    out = sparql.select(
        df,
        "SELECT ?s ?t ?f WHERE { ?s <urn:p:a> ?v "
        "OPTIONAL { ?s <urn:p:tag> ?t OPTIONAL { ?s <urn:p:flag> ?f } } }",
    )
    assert _set(out, "s", "t", "f") == {
        ("urn:d1", "t1", None),          # outer matches, inner doesn't
        ("urn:d2", "t2", "y"),           # both match
        ("urn:d3", None, None),          # outer doesn't match
    }


def test_optional_inside_optional_inner_only_no_leak(df):
    """A subject with a flag but NO tag must NOT get the flag bound:
    the inner OPTIONAL extends the outer BLOCK, not the group, so when
    the outer block fails, everything inside it is null."""
    out = sparql.select(
        df,
        "SELECT ?s ?t ?f WHERE { ?s <urn:p:score> ?v "
        "OPTIONAL { ?s <urn:p:tag> ?t OPTIONAL { ?s <urn:p:flag> ?f } } }",
    )
    rows = {r.s: (r.t, r.f) for r in out.collect()}
    assert rows["urn:d3"] == (None, None)
    assert rows["urn:d2"] == ("t2", "y")


def test_optional_inside_optional_with_inner_filter(df):
    """A block-local FILTER inside the inner OPTIONAL drops only the
    inner extension."""
    out = sparql.select(
        df,
        "SELECT ?s ?t ?f WHERE { ?s <urn:p:a> ?v "
        "OPTIONAL { ?s <urn:p:tag> ?t "
        "  OPTIONAL { ?s <urn:p:flag> ?f FILTER(?f != \"y\") } } }",
    )
    assert _set(out, "s", "t", "f") == {
        ("urn:d1", "t1", None),
        ("urn:d2", "t2", None),          # inner filter killed the flag
        ("urn:d3", None, None),
    }


# ---------------------------------------------------------------------------
# OPTIONAL nested inside MINUS / EXISTS
# ---------------------------------------------------------------------------
def test_optional_inside_minus(df):
    """MINUS block = subjects-with-score optionally-extended by tag,
    filtered to tag t2: only d2 is removed (the OPTIONAL extension
    participates in the MINUS block's solutions)."""
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v "
        "MINUS { ?s <urn:p:score> ?sc OPTIONAL { ?s <urn:p:tag> ?t } "
        "        FILTER(?t = \"t2\") } }",
    )
    assert _set(out, "s") == {("urn:d1",), ("urn:d3",)}


def test_optional_inside_exists(df):
    """FILTER NOT EXISTS whose block uses OPTIONAL + a filter on the
    optionally-bound variable."""
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v "
        "FILTER NOT EXISTS { ?s <urn:p:score> ?sc "
        "  OPTIONAL { ?s <urn:p:flag> ?f } FILTER(BOUND(?f)) } }",
    )
    # only d2 has a flag → survives: d1, d3
    assert _set(out, "s") == {("urn:d1",), ("urn:d3",)}


# ---------------------------------------------------------------------------
# MINUS / EXISTS nested inside MINUS / OPTIONAL
# ---------------------------------------------------------------------------
def test_minus_inside_minus(df):
    """{A MINUS {B MINUS C}}: C re-admits its matches into the outer
    result. B = scored subjects, C = flagged subjects → outer MINUS
    removes scored-but-not-flagged (d1, d3); d2 survives."""
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v "
        "MINUS { ?s <urn:p:score> ?sc MINUS { ?s <urn:p:flag> ?f } } }",
    )
    assert _set(out, "s") == {("urn:d2",)}


def test_exists_inside_minus(df):
    """FILTER EXISTS inside a MINUS block restricts what the MINUS
    removes."""
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v "
        "MINUS { ?s <urn:p:score> ?sc "
        "  FILTER EXISTS { ?s <urn:p:tag> ?t } } }",
    )
    # scored AND tagged: d1, d2 removed → d3 survives
    assert _set(out, "s") == {("urn:d3",)}


def test_minus_inside_optional(df):
    """MINUS inside an OPTIONAL block shrinks the block's solutions
    BEFORE the left join — subjects removed by the inner MINUS come
    back null-extended, not dropped."""
    out = sparql.select(
        df,
        "SELECT ?s ?t WHERE { ?s <urn:p:a> ?v "
        "OPTIONAL { ?s <urn:p:tag> ?t MINUS { ?s <urn:p:flag> ?f } } }",
    )
    assert _set(out, "s", "t") == {
        ("urn:d1", "t1"),
        ("urn:d2", None),                # tag exists but MINUS'd away
        ("urn:d3", None),
    }


def test_not_exists_inside_optional(df):
    out = sparql.select(
        df,
        "SELECT ?s ?t WHERE { ?s <urn:p:a> ?v "
        "OPTIONAL { ?s <urn:p:tag> ?t "
        "  FILTER NOT EXISTS { ?s <urn:p:flag> ?f } } }",
    )
    assert _set(out, "s", "t") == {
        ("urn:d1", "t1"),
        ("urn:d2", None),
        ("urn:d3", None),
    }


# ---------------------------------------------------------------------------
# nested GRAPH
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def gdf(spark):
    rows = [
        ("urn:a", "urn:p:x", "1", "literal", None, None, "urn:g1"),
        ("urn:b", "urn:p:x", "2", "literal", None, None, "urn:g2"),
        ("urn:a", "urn:p:y", "3", "literal", None, None, "urn:g2"),
        ("urn:c", "urn:p:x", "4", "literal", None, None, "urn:g3"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_nested_graph_fixed_iri(gdf):
    """GRAPH <g1> { … GRAPH <g2> { … } }: the inner block's patterns
    match g2, the outer's match g1 — each Graph() node sets its own
    term (§18.2.2.1)."""
    out = sparql.select(
        gdf,
        "SELECT ?v ?w WHERE { GRAPH <urn:g1> { ?s <urn:p:x> ?v "
        "GRAPH <urn:g2> { ?s <urn:p:y> ?w } } }",
    )
    assert _set(out, "v", "w") == {("1", "3")}


def test_nested_graph_var_inner(gdf):
    """Outer fixed graph, inner variable graph: the inner var ranges
    over all graphs holding the joined pattern."""
    out = sparql.select(
        gdf,
        "SELECT ?g WHERE { GRAPH <urn:g1> { ?s <urn:p:x> ?v "
        "GRAPH ?g { ?s <urn:p:y> ?w } } }",
    )
    assert _set(out, "g") == {("urn:g2",)}


def test_nested_graph_outer_var_name_domain(gdf):
    """GRAPH ?g { GRAPH <g2> { … } }: ?g governs no triple directly, so
    per §18.3 eval it ranges over the dataset's named-graph NAMES,
    cross-joined with the inner solutions."""
    out = sparql.select(
        gdf,
        "SELECT ?g ?w WHERE { GRAPH ?g { GRAPH <urn:g2> "
        "{ ?s <urn:p:y> ?w } } }",
        allow_cartesian=True,
    )
    assert _set(out, "g", "w") == {
        ("urn:g1", "3"), ("urn:g2", "3"), ("urn:g3", "3"),
    }


def test_nested_graph_iri_existence_gate(gdf):
    """GRAPH <iri> { GRAPH <g2> { … } } with an IRI that names NO graph
    in the store → zero solutions (§18.3: eval only if the name is in
    the dataset)."""
    out = sparql.select(
        gdf,
        "SELECT ?w WHERE { GRAPH <urn:nosuch> { GRAPH <urn:g2> "
        "{ ?s <urn:p:y> ?w } } }",
    )
    assert out.count() == 0
    out2 = sparql.select(
        gdf,
        "SELECT ?w WHERE { GRAPH <urn:g3> { GRAPH <urn:g2> "
        "{ ?s <urn:p:y> ?w } } }",
    )
    assert _set(out2, "w") == {("3",)}


def test_nested_graph_same_var_consistent(gdf):
    """GRAPH ?g { ?s p ?v . GRAPH ?g { … } } — the same variable in
    both positions must resolve to ONE graph binding."""
    out = sparql.select(
        gdf,
        "SELECT ?g WHERE { GRAPH ?g { ?s <urn:p:x> ?v "
        "GRAPH ?g { ?s2 <urn:p:y> ?w } } }",
        allow_cartesian=True,
    )
    assert _set(out, "g") == {("urn:g2",)}


def test_nested_graph_minus_per_name(gdf):
    """An ungoverned outer graph var + a nested MINUS: the domain op
    binds ?g BEFORE the MINUS, so the anti join runs per name."""
    out = sparql.select(
        gdf,
        "SELECT ?g ?w WHERE { GRAPH ?g { GRAPH <urn:g2> { ?s <urn:p:y> ?w } "
        "MINUS { ?x <urn:p:x> ?z } } }",
        allow_cartesian=True,
    )
    # MINUS block shares no var with the outer solutions → no-op (§8.3)
    assert _set(out, "g", "w") == {
        ("urn:g1", "3"), ("urn:g2", "3"), ("urn:g3", "3"),
    }


def test_nested_graph_optional_only_rejected(gdf):
    with pytest.raises(SparqlError, match="only an OPTIONAL"):
        sparql.select(
            gdf,
            "SELECT ?g WHERE { GRAPH ?g { OPTIONAL { ?s <urn:p:x> ?v } } }",
        )


def test_nested_graph_under_dataset(gdf):
    """Nested GRAPH under FROM NAMED: the name domain excludes both the
    default-marker rows and graphs outside the dataset."""
    out = sparql.select(
        gdf,
        "SELECT ?g ?w FROM <urn:g3> FROM NAMED <urn:g1> FROM NAMED <urn:g2> "
        "WHERE { GRAPH ?g { GRAPH <urn:g2> { ?s <urn:p:y> ?w } } }",
        allow_cartesian=True,
    )
    assert _set(out, "g", "w") == {("urn:g1", "3"), ("urn:g2", "3")}


# ---------------------------------------------------------------------------
# deep nesting smoke
# ---------------------------------------------------------------------------
def test_triple_nesting(df):
    """OPTIONAL inside MINUS inside the group, with a FILTER EXISTS one
    level down — parses and evaluates bottom-up."""
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v "
        "MINUS { ?s <urn:p:score> ?sc "
        "  OPTIONAL { ?s <urn:p:tag> ?t "
        "    FILTER EXISTS { ?s <urn:p:flag> ?f } } "
        "  FILTER(BOUND(?t)) } }",
    )
    # MINUS block: scored subjects whose tag survives (only d2 has the
    # flag for the EXISTS) and BOUND(?t) → removes d2 only
    assert _set(out, "s") == {("urn:d1",), ("urn:d3",)}


@pytest.mark.parametrize(
    "where",
    [
        "?s <urn:p:a> ?v GRAPH ?g { OPTIONAL { ?s <urn:p:tag> ?t } }",
        "?s <urn:p:a> ?v OPTIONAL { ?s <urn:p:a> ?w "
        "GRAPH ?g { OPTIONAL { ?s <urn:p:tag> ?t } } }",
    ],
    ids=["group", "nested"],
)
def test_optional_under_an_ungoverned_graph_term_joins_per_name(spark, where):
    """GRAPH ?g { OPTIONAL { … } } beside a required pattern: the name
    domain binds ?g first (it precedes the OPTIONAL in textual order),
    then the OPTIONAL extends each (row, name) pair within that graph —
    at group level as in a nested block (§18.3)."""
    rows = [
        ("urn:d1", "urn:p:a", "10", "literal", None, None, "urn:g1"),
        ("urn:d2", "urn:p:a", "20", "literal", None, None, "urn:g2"),
        ("urn:d1", "urn:p:tag", "t1", "literal", None, None, "urn:g1"),
        ("urn:d2", "urn:p:tag", "t2", "literal", None, None, "urn:g2"),
    ]
    store = spark.createDataFrame(rows, SCHEMA)
    out = sparql.select(store, f"SELECT ?s ?g ?t WHERE {{ {where} }}")
    assert _set(out, "s", "g", "t") == {
        ("urn:d1", "urn:g1", "t1"), ("urn:d1", "urn:g2", None),
        ("urn:d2", "urn:g1", None), ("urn:d2", "urn:g2", "t2"),
    }
