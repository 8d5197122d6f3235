"""Round-5c SPARQL lifts: UNION everywhere. Previously a
``{ A } UNION { B }`` chain was only accepted as the WHOLE WHERE
clause; now nested GroupGraphPatterns parse as a ("union", arms) op in
textual position — adjoined with triples, inside OPTIONAL / MINUS /
[NOT] EXISTS blocks, under GRAPH terms, arbitrarily nested — with the
§18.5 compatibility-join semantics (unbound is compatible; certainty
analysis picks the hash equi-join hot path when no shared variable can
be null). Reference analog: SPARQL 1.1 REC §18.2 translation (public;
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
        ("urn:d3", "urn:p:a", "30", "literal", None, None, "urn:g2"),
        ("urn:d1", "urn:p:tag", "t1", "literal", None, None, "urn:g1"),
        ("urn:d2", "urn:p:flag", "y", "literal", None, None, "urn:g1"),
        ("urn:d3", "urn:p:tag", "t3", "literal", None, None, "urn:g2"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _set(out, *cols):
    return {tuple(r[c] for c in cols) for r in out.collect()}


def _bag(out, *cols):
    from collections import Counter

    return Counter(tuple(r[c] for c in cols) for r in out.collect())


# ---------------------------------------------------------------------------
# union adjoined with other patterns in one group
# ---------------------------------------------------------------------------
def test_union_adjoined_with_triples(df):
    out = sparql.select(
        df,
        "SELECT ?s ?v ?x WHERE { ?s <urn:p:a> ?v . "
        "{ ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } }",
    )
    assert _set(out, "s", "v", "x") == {
        ("urn:d1", "10", "t1"),
        ("urn:d2", "20", "y"),
        ("urn:d3", "30", "t3"),
    }


def test_union_chain_then_triples_rewind(df):
    """WHERE opens with the chain but is NOT only the chain — the
    parser rewinds and treats it as an in-group union op."""
    out = sparql.select(
        df,
        "SELECT ?s ?v WHERE { { ?s <urn:p:tag> ?x } UNION "
        "{ ?s <urn:p:flag> ?x } ?s <urn:p:a> ?v }",
    )
    assert _set(out, "s", "v") == {
        ("urn:d1", "10"), ("urn:d2", "20"), ("urn:d3", "30")
    }


def test_whole_where_union_still_works(df):
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { { ?s <urn:p:tag> ?x } UNION "
        "{ ?s <urn:p:flag> ?x } }",
    )
    assert _set(out, "s", "x") == {
        ("urn:d1", "t1"), ("urn:d2", "y"), ("urn:d3", "t3")
    }


def test_three_arm_chain(df):
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v "
        "{ ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } UNION "
        "{ ?s <urn:p:a> \"30\" } }",
    )
    assert _bag(out, "s") == {
        ("urn:d1",): 1, ("urn:d2",): 1, ("urn:d3",): 2
    }


def test_nested_plain_group_scopes_filter(df):
    """A single nested { } is a scoped group: its FILTER applies inside
    (one-arm union), not to the outer group."""
    out = sparql.select(
        df,
        "SELECT ?s ?v ?x WHERE { "
        "{ ?s <urn:p:a> ?v FILTER(?v > 15) } ?s <urn:p:tag> ?x }",
    )
    assert _set(out, "s", "v", "x") == {("urn:d3", "30", "t3")}


def test_union_in_union(df):
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { ?s <urn:p:a> ?v "
        "{ { ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } } UNION "
        "{ ?s <urn:p:a> ?x FILTER(?x = \"30\") } }",
    )
    assert _set(out, "s", "x") == {
        ("urn:d1", "t1"), ("urn:d2", "y"),
        ("urn:d3", "t3"), ("urn:d3", "30"),
    }


# ---------------------------------------------------------------------------
# bag semantics + compatibility (unbound-compatible) joins
# ---------------------------------------------------------------------------
def test_union_bag_multiplicity(df):
    """Arms binding DIFFERENT variable sets: each arm contributes one
    solution per outer row — multiplicities add (§18.5 multiset
    union), and a shared variable null in one arm is compatible."""
    out = sparql.select(
        df,
        "SELECT ?s ?v ?x WHERE { ?s <urn:p:a> ?v . ?s <urn:p:tag> ?x "
        "{ ?s <urn:p:tag> ?x } UNION { ?s <urn:p:a> ?v } }",
    )
    assert _bag(out, "s", "v", "x") == {
        ("urn:d1", "10", "t1"): 2,
        ("urn:d3", "30", "t3"): 2,
    }


def test_union_compat_join_takes_bound_value(df):
    """The merge of an outer solution with an arm row that leaves ?x
    unbound keeps the OUTER ?x binding (coalesce direction)."""
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { ?s <urn:p:tag> ?x "
        "{ ?s <urn:p:a> ?v } UNION { ?s <urn:p:flag> ?z } }",
    )
    # d1: arm1 matches (a) -> keeps x=t1; arm2 no flag -> nothing
    # d3: arm1 matches -> x=t3
    assert _set(out, "s", "x") == {("urn:d1", "t1"), ("urn:d3", "t3")}


# ---------------------------------------------------------------------------
# union inside OPTIONAL / MINUS / EXISTS
# ---------------------------------------------------------------------------
def test_union_inside_optional(df):
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { ?s <urn:p:a> ?v "
        "OPTIONAL { { ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } } }",
    )
    assert _set(out, "s", "x") == {
        ("urn:d1", "t1"), ("urn:d2", "y"), ("urn:d3", "t3")
    }


def test_union_inside_optional_unmatched_null(spark):
    rows = [
        ("urn:a", "urn:p:a", "1", "literal", None, None, "urn:g"),
        ("urn:b", "urn:p:a", "2", "literal", None, None, "urn:g"),
        ("urn:a", "urn:p:t", "x", "literal", None, None, "urn:g"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { ?s <urn:p:a> ?v "
        "OPTIONAL { { ?s <urn:p:t> ?x } UNION { ?s <urn:p:u> ?x } } }",
    )
    assert _set(out, "s", "x") == {("urn:a", "x"), ("urn:b", None)}


def test_union_inside_minus(df):
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v MINUS "
        "{ { ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } } }",
    )
    assert _set(out, "s") == set()
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v MINUS "
        "{ { ?s <urn:p:flag> ?x } UNION { ?s <urn:p:a> \"10\" } } }",
    )
    assert _set(out, "s") == {("urn:d3",)}


def test_union_inside_exists_and_not_exists(df):
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v FILTER EXISTS "
        "{ { ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } } }",
    )
    assert _set(out, "s") == {("urn:d1",), ("urn:d2",), ("urn:d3",)}
    out = sparql.select(
        df,
        "SELECT ?s WHERE { ?s <urn:p:a> ?v FILTER NOT EXISTS "
        "{ { ?s <urn:p:flag> ?x } UNION { ?s <urn:p:tag> \"t1\" } } }",
    )
    assert _set(out, "s") == {("urn:d3",)}


def test_optional_union_with_outer_filter_join_condition(df):
    """An OPTIONAL-scoped FILTER over an OUTER variable still becomes
    the LeftJoin condition when the block holds a union."""
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { ?s <urn:p:a> ?v "
        "OPTIONAL { { ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } "
        "FILTER(?v > 15) } }",
    )
    # d1 fails the condition -> null-extended; d2/d3 keep their arm row
    assert _set(out, "s", "x") == {
        ("urn:d1", None), ("urn:d2", "y"), ("urn:d3", "t3")
    }


# ---------------------------------------------------------------------------
# union under GRAPH
# ---------------------------------------------------------------------------
def test_union_under_fixed_graph(df):
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { GRAPH <urn:g1> { "
        "{ ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } } }",
    )
    assert _set(out, "s", "x") == {("urn:d1", "t1"), ("urn:d2", "y")}


def test_union_under_graph_var(df):
    out = sparql.select(
        df,
        "SELECT ?g ?s ?x WHERE { GRAPH ?g { "
        "{ ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } } }",
    )
    assert _set(out, "g", "s", "x") == {
        ("urn:g1", "urn:d1", "t1"),
        ("urn:g1", "urn:d2", "y"),
        ("urn:g2", "urn:d3", "t3"),
    }


def test_union_arm_with_own_graph(df):
    out = sparql.select(
        df,
        "SELECT ?s ?x WHERE { "
        "{ GRAPH <urn:g1> { ?s <urn:p:tag> ?x } } UNION "
        "{ GRAPH <urn:g2> { ?s <urn:p:tag> ?x } } }",
    )
    assert _set(out, "s", "x") == {("urn:d1", "t1"), ("urn:d3", "t3")}


# ---------------------------------------------------------------------------
# union + dataset clauses (marker rewrite must recurse into arms)
# ---------------------------------------------------------------------------
def test_union_with_from_named(df):
    out = sparql.select(
        df,
        "SELECT ?g ?s WHERE { GRAPH ?g { "
        "{ ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } } } "
        .replace("WHERE", "FROM NAMED <urn:g1> WHERE"),
    )
    assert _set(out, "g", "s") == {
        ("urn:g1", "urn:d1"), ("urn:g1", "urn:d2")
    }


def test_union_with_from_default(df):
    out = sparql.select(
        df,
        "SELECT ?s ?x FROM <urn:g2> WHERE { ?s <urn:p:a> ?v "
        "{ ?s <urn:p:tag> ?x } UNION { ?s <urn:p:flag> ?x } }",
    )
    assert _set(out, "s", "x") == {("urn:d3", "t3")}


# ---------------------------------------------------------------------------
# arms with their own OPTIONAL / BIND; ASK; errors
# ---------------------------------------------------------------------------
def test_union_arm_with_optional_and_bind(df):
    out = sparql.select(
        df,
        "SELECT ?s ?x ?k WHERE { ?s <urn:p:a> ?v "
        "{ ?s <urn:p:tag> ?x OPTIONAL { ?s <urn:p:flag> ?k } } UNION "
        "{ ?s <urn:p:flag> ?x BIND(\"f\" AS ?k) } }",
    )
    assert _set(out, "s", "x", "k") == {
        ("urn:d1", "t1", None),
        ("urn:d2", "y", "f"),
        ("urn:d3", "t3", None),
    }


@pytest.mark.parametrize(
    "seed",
    [
        "{ SELECT ?s WHERE { ?s <urn:p:a> ?v } }",
        "{ ?s <urn:p:a> ?v } UNION { ?s <urn:p:flag> ?v }",
    ],
    ids=["subquery", "union"],
)
def test_group_seeded_by_subquery_or_union_joins_its_optional(df, seed):
    """A group with no triple pattern is seeded by its subquery or UNION
    chain; its OPTIONAL blocks left-join after the seed, binding ?x
    where the data has it and leaving it null where it does not."""
    want = {("urn:d1", "t1"), ("urn:d2", None), ("urn:d3", "t3")}
    opt = "OPTIONAL { ?s <urn:p:tag> ?x }"
    out = sparql.select(df, f"SELECT * WHERE {{ {seed} {opt} }}")
    assert "x" in out.columns
    assert _set(out, "s", "x") == want
    out = sparql.select(df, f"SELECT ?s ?x WHERE {{ {seed} {opt} }}")
    assert _set(out, "s", "x") == want


@pytest.mark.parametrize(
    "where,want",
    [
        (
            '?s <urn:p:a> ?v BIND(STR(?s) AS ?k) '
            'OPTIONAL { ?s <urn:p:tag> ?x FILTER(?k = "urn:d1") }',
            {("urn:d1", "t1"), ("urn:d2", None), ("urn:d3", None)},
        ),
        (
            "?s <urn:p:a> ?v OPTIONAL { ?s <urn:p:a> ?w BIND(1 AS ?k) "
            "OPTIONAL { ?s <urn:p:tag> ?x FILTER(?k = 1) } }",
            {("urn:d1", "t1"), ("urn:d2", None), ("urn:d3", "t3")},
        ),
        (
            "?s <urn:p:a> ?v FILTER(!BOUND(?x)) OPTIONAL { ?s <urn:p:tag> ?x }",
            {("urn:d2", None)},
        ),
    ],
    ids=["bind_then_optional", "nested_bind_then_optional", "filter_then_optional"],
)
def test_optional_joins_in_textual_position_ahead_of_filters(df, where, want):
    """An OPTIONAL left-joins after the BIND written before it, so its
    outer-variable FILTER sees the bound value, at group level and
    nested; a FILTER written before an OPTIONAL still constrains the
    whole group, so it sees the OPTIONAL's bindings."""
    out = sparql.select(df, f"SELECT ?s ?x WHERE {{ {where} }}")
    assert _set(out, "s", "x") == want


def test_ask_with_nested_union(df):
    assert sparql.ask(
        df,
        "ASK { ?s <urn:p:a> ?v { ?s <urn:p:flag> ?x } UNION "
        "{ ?s <urn:p:tag> ?x } }",
    ).first().ask is True
    assert sparql.ask(
        df,
        "ASK { ?s <urn:p:a> ?v { ?s <urn:p:missing> ?x } UNION "
        "{ ?s <urn:p:gone> ?x } }",
    ).first().ask is False


def test_union_no_shared_var_requires_cartesian(df):
    with pytest.raises(SparqlError, match="cross product"):
        sparql.select(
            df,
            "SELECT * WHERE { ?s <urn:p:a> ?v "
            "{ ?a <urn:p:tag> ?x } UNION { ?b <urn:p:flag> ?x } }",
        ).collect()


def test_union_empty_where_group_rejected(df):
    with pytest.raises(SparqlError, match="empty group"):
        sparql.select(df, "SELECT * WHERE { { } UNION { ?s ?p ?o } }")
