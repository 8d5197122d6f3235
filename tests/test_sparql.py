"""SPARQL text front-end tests (VERDICT r1 #5): SELECT-with-BGP and
INSERT DATA / DELETE DATA strings must produce exactly what the
programmatic query.bgp / update.* surface produces."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tripleforge import sparql
from tripleforge.catalog import ParquetSnapshotCatalog
from tripleforge.query import Pattern, bgp


@pytest.fixture()
def stmts(spark):
    return spark.createDataFrame(
        [
            ("urn:d1", "urn:p:source", "urn:src:a", "iri", None, None, "urn:g"),
            ("urn:d2", "urn:p:source", "urn:src:b", "iri", None, None, "urn:g"),
            ("urn:d1", "urn:p:nchars", "10", "literal", "http://www.w3.org/2001/XMLSchema#integer", None, "urn:g"),
            ("urn:d2", "urn:p:nchars", "20", "literal", "http://www.w3.org/2001/XMLSchema#integer", None, "urn:g"),
            ("urn:d3", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "urn:T", "iri", None, None, "urn:h"),
        ],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string, graph string",
    )


def test_select_matches_programmatic_bgp(stmts):
    text = """
        PREFIX p: <urn:p:>
        SELECT ?d ?s ?n WHERE { ?d p:source ?s . ?d p:nchars ?n . }
    """
    got = {tuple(r) for r in sparql.select(stmts, text).collect()}
    want = {
        tuple(r)
        for r in bgp(
            stmts,
            [Pattern(s="?d", p="urn:p:source", o="?s"), Pattern(s="?d", p="urn:p:nchars", o="?n")],
        ).select("d", "s", "n").collect()
    }
    assert got == want and got


def test_select_star_distinct_limit_and_literal_constant(stmts):
    text = 'SELECT DISTINCT * WHERE { ?d <urn:p:nchars> "10" } LIMIT 1'
    rows = sparql.select(stmts, text).collect()
    assert len(rows) == 1 and rows[0].d == "urn:d1"


def test_select_a_keyword_and_graph_pattern(stmts):
    text = "SELECT ?x WHERE { GRAPH <urn:h> { ?x a <urn:T> } }"
    rows = sparql.select(stmts, text).collect()
    assert {r.x for r in rows} == {"urn:d3"}


def test_select_rejects_garbage(stmts):
    for bad in (
        "ASK { ?s ?p ?o }",
        "SELECT ?x WHERE { ?x }",
        "SELECT ?x WHERE { ?x <urn:p> ?y } trailing",
        "SELECT ?zzz WHERE { ?x <urn:p:source> ?y }",
    ):
        with pytest.raises(sparql.SparqlError):
            sparql.select(stmts, bad).collect()


def test_select_cartesian_guard(stmts):
    text = "SELECT ?a ?b WHERE { ?a <urn:p:source> ?x . ?b <urn:p:nchars> ?y }"
    with pytest.raises(ValueError, match="cross product"):
        sparql.select(stmts, text)
    assert sparql.select(stmts, text, allow_cartesian=True).count() == 4


@pytest.fixture()
def cat_root():
    root = tempfile.mkdtemp(prefix="tfsparql_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_insert_and_delete_data_roundtrip(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(
        spark,
        cat,
        """
        PREFIX ex: <http://ex.org/>
        INSERT DATA {
          ex:s ex:p "plain" .
          GRAPH ex:g { ex:s ex:p 42 . }
        }
        """,
        run_id="i1",
    )
    rows = {(r.subj, r.obj, r.graph) for r in cat.read_statements().select("subj", "obj", "graph").collect()}
    assert ("http://ex.org/s", "42", "http://ex.org/g") in rows
    assert ("http://ex.org/s", "plain", None) in rows  # default graph
    # idempotent re-insert (set semantics)
    sparql.execute_update(
        spark, cat,
        'INSERT DATA { GRAPH <http://ex.org/g> { <http://ex.org/s> <http://ex.org/p> 42 . } }',
        run_id="i2",
    )
    assert cat.read_statements().count() == 2
    sparql.execute_update(
        spark, cat,
        'DELETE DATA { GRAPH <http://ex.org/g> { <http://ex.org/s> <http://ex.org/p> 42 . } }',
        run_id="d1",
    )
    left = cat.read_statements().select("obj").collect()
    assert {r.obj for r in left} == {"plain"}


def test_with_graph_targets_inserts(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(
        spark, cat,
        'WITH <urn:target> INSERT DATA { <urn:s> <urn:p> "v" . }',
        run_id="i1",
    )
    row = cat.read_statements().select("graph").first()
    assert row.graph == "urn:target"


def test_update_rejects_malformed_forms(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    for bad in (
        "DESCRIBE <urn:x>",          # not an update form
        "CREATE",                    # CREATE without GRAPH
        "COPY <urn:a>",              # COPY without TO
        "CLEAR SOMETHING",           # bad CLEAR target
        "INSERT <urn:s> <urn:p> 1",  # INSERT without DATA/template
    ):
        with pytest.raises(sparql.SparqlError):
            sparql.execute_update(spark, cat, bad, run_id="x")


def test_construct_with_variable_and_constant_objects(stmts, spark):
    text = """
        PREFIX p: <urn:p:>
        CONSTRUCT {
          ?s <urn:p:docOf> ?d .
          ?d <urn:p:flag> "y" .
          ?d <urn:p:len> ?n .
        }
        WHERE { ?d p:source ?s . ?d p:nchars ?n . }
    """
    out = sparql.construct(stmts, text)
    rows = {(r.subj, r.pred, r.obj, r.obj_kind, r.obj_dt, r.obj_lang) for r in out.collect()}
    assert ("urn:src:a", "urn:p:docOf", "urn:d1", "iri", None, None) in rows
    assert ("urn:d1", "urn:p:flag", "y", "literal",
            "http://www.w3.org/2001/XMLSchema#string", None) in rows
    # variable object carries the source statement's datatype through
    assert ("urn:d1", "urn:p:len", "10", "literal",
            "http://www.w3.org/2001/XMLSchema#integer", None) in rows
    assert len(rows) == 6  # 2 docs × 3 template triples


def test_construct_roundtrips_through_serializer(stmts, spark, tmp_path):
    from tripleforge.io import write_ntriples
    from tripleforge.pipeline import BuildConfig, transform

    out = sparql.construct(
        stmts, "CONSTRUCT { ?d <urn:p:len> ?n } WHERE { ?d <urn:p:nchars> ?n }"
    )
    path = str(tmp_path / "construct_out")
    write_ntriples(out, path)
    content = "\n".join(r.value for r in spark.read.text(path).collect())
    corpus = spark.createDataFrame(
        [("r", "f.nt", "c", "N-Triples", content)],
        "repo string, path string, commit string, lang string, content string",
    )
    parsed, errs = transform(corpus, BuildConfig(link_entities=False, canonicalize=False))
    assert errs.count() == 0
    got = {(r.subj, r.obj, r.obj_dt) for r in parsed.collect()}
    assert got == {
        ("urn:d1", "10", "http://www.w3.org/2001/XMLSchema#integer"),
        ("urn:d2", "20", "http://www.w3.org/2001/XMLSchema#integer"),
    }


def test_construct_rejects_unbound_and_bnode_templates(stmts):
    with pytest.raises(sparql.SparqlError, match="not bound"):
        sparql.construct(
            stmts, "CONSTRUCT { ?zzz <urn:p> ?d } WHERE { ?d <urn:p:nchars> ?n }"
        )
    with pytest.raises(sparql.SparqlError, match="bnodes unsupported"):
        sparql.construct(
            stmts, "CONSTRUCT { _:b <urn:p> ?d } WHERE { ?d <urn:p:nchars> ?n }"
        )


def test_query_dispatcher(stmts):
    assert "d" in sparql.query(stmts, "SELECT ?d WHERE { ?d <urn:p:nchars> ?n }").columns
    assert "subj" in sparql.query(
        stmts, "CONSTRUCT { ?d <urn:p> ?n } WHERE { ?d <urn:p:nchars> ?n }"
    ).columns
    # DESCRIBE is supported since r3 (statement-shaped output)
    assert "subj" in sparql.query(stmts, "DESCRIBE <urn:d1>").columns
    with pytest.raises(sparql.SparqlError):
        sparql.query(stmts, "EXPLAIN SELECT ?d WHERE { ?d ?p ?o }")


def test_filter_comparison_and_regex(stmts):
    rows = sparql.select(
        stmts,
        'SELECT ?d ?n WHERE { ?d <urn:p:nchars> ?n . FILTER (?n > 15) }',
    ).collect()
    assert {(r.d, r.n) for r in rows} == {("urn:d2", "20")}
    rows = sparql.select(
        stmts,
        'SELECT ?d WHERE { ?d <urn:p:source> ?s . FILTER regex(?s, "SRC:A", "i") }',
    ).collect()
    assert {r.d for r in rows} == {"urn:d1"}
    rows = sparql.select(
        stmts,
        'SELECT ?d WHERE { ?d <urn:p:source> ?s . FILTER (?s != <urn:src:a>) }',
    ).collect()
    assert {r.d for r in rows} == {"urn:d2"}


def test_filter_unbound_var_rejected(stmts):
    with pytest.raises(sparql.SparqlError, match="not bound"):
        sparql.select(
            stmts, "SELECT ?d WHERE { ?d <urn:p:nchars> ?n . FILTER (?zzz > 1) }"
        )


def test_optional_left_join(stmts, spark):
    extra = spark.createDataFrame(
        [("urn:d1", "urn:p:extra", "E", "literal",
          "http://www.w3.org/2001/XMLSchema#string", None, "urn:g")],
        stmts.schema,
    )
    data = stmts.unionByName(extra)
    rows = sparql.select(
        data,
        """SELECT ?d ?e WHERE {
             ?d <urn:p:nchars> ?n .
             OPTIONAL { ?d <urn:p:extra> ?e }
           }""",
    ).collect()
    got = {r.d: r.e for r in rows}
    assert got == {"urn:d1": "E", "urn:d2": None}


def test_ask(stmts):
    assert sparql.query(stmts, "ASK { ?d <urn:p:nchars> ?n }").first().ask is True
    assert (
        sparql.query(stmts, 'ASK WHERE { ?d <urn:p:nope> ?n }').first().ask is False
    )
    assert (
        sparql.query(
            stmts, "ASK { ?d <urn:p:nchars> ?n . FILTER (?n > 999) }"
        ).first().ask
        is False
    )


def test_iri_lexing_unharmed_by_filter_ops(stmts):
    # '<' followed by non-space must still lex as IRIREF
    rows = sparql.select(
        stmts, "SELECT ?n WHERE { <urn:d1> <urn:p:nchars> ?n . FILTER (?n >= 10) }"
    ).collect()
    assert {r.n for r in rows} == {"10"}


def test_update_canonicalizes_like_the_build_path(spark, cat_root):
    """INSERT DATA must store canonical terms (A9-A11) and DELETE DATA
    must match canonical stored quads — parity with the build path."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(
        spark, cat,
        'INSERT DATA { <HTTP://EX.ORG> <http://ex.org/p> "007"^^<http://www.w3.org/2001/XMLSchema#integer> . }',
        run_id="i1",
    )
    row = cat.read_statements().select("subj", "obj").first()
    assert row.subj == "http://ex.org/" and row.obj == "7"
    # delete with differently-non-canonical spellings still matches
    sparql.execute_update(
        spark, cat,
        'DELETE DATA { <http://EX.org> <http://ex.org/p> "7"^^<http://www.w3.org/2001/XMLSchema#integer> . }',
        run_id="d1",
    )
    assert cat.read_statements().count() == 0
    # DELETE/INSERT templates canonicalize too: the delete's spelling
    # matches the stored quad, the insert stores canonical terms
    sparql.execute_update(
        spark, cat,
        'INSERT DATA { <http://ex.org/> <http://ex.org/p> "7"^^<http://www.w3.org/2001/XMLSchema#integer> . }',
        run_id="i2",
    )
    sparql.execute_update(
        spark, cat,
        'DELETE { <HTTP://EX.ORG> <http://ex.org/p> "07"^^<http://www.w3.org/2001/XMLSchema#integer> } '
        'INSERT { <HTTP://EX.ORG:80/a/../n> <http://ex.org/q> "0042"^^<http://www.w3.org/2001/XMLSchema#integer> } '
        'WHERE { ?s <http://ex.org/p> ?o }',
        run_id="m1",
    )
    rows = [(r.subj, r.pred, r.obj) for r in cat.read_statements().collect()]
    assert rows == [("http://ex.org/n", "http://ex.org/q", "42")]


_XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.mark.parametrize(
    "where, obj, dt",
    [
        # expression literals evaluate as doubles, so 1 binds 1.0E0
        ("?s <urn:p> ?o BIND(1 AS ?n)", "1.0E0", "double"),
        ("?s <urn:p> ?o BIND(IF(?o = <urn:o>, 1, 0) AS ?n)", "1.0E0", "double"),
        ("?s <urn:p> ?o BIND(?o = <urn:o> AS ?n)", "true", "boolean"),
        ("{ SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o } }", "1", "integer"),
    ],
    ids=["bind", "if", "comparison", "count"],
)
def test_update_template_stores_numeric_bindings_as_typed_literals(spark, cat_root, where, obj, dt):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(spark, cat, "INSERT DATA { <urn:s> <urn:p> <urn:o> }")
    sparql.execute_update(spark, cat, f"INSERT {{ <urn:x> <urn:q> ?n }} WHERE {{ {where} }}")
    rows = cat.read_statements().where(F.col("pred") == "urn:q").collect()
    assert [(r.obj, r.obj_kind, r.obj_dt, r.obj_lang) for r in rows] == [
        (obj, "literal", _XSD + dt, None)
    ]


@pytest.mark.parametrize(
    "expr, obj, kind",
    [
        ('CONCAT("a", "b")', "ab", "literal"),
        ("STR(?o)", "urn:o", "literal"),
        ('IRI("urn:made")', "urn:made", "iri"),
        ("<urn:const>", "urn:const", "iri"),
        ("?o", "urn:o", "iri"),
        ('IF(?o = <urn:o>, "y", "n")', "y", "literal"),
        ("IF(?o = <urn:o>, <urn:a>, <urn:b>)", "urn:a", "iri"),
        ('COALESCE(?o, "z")', "urn:o", "iri"),
        ("COALESCE(<urn:a>, <urn:b>)", "urn:a", "iri"),
        ('IF(?o = <urn:o>, IRI(STR(?o)), <urn:b>)', "urn:o", "iri"),
    ],
    ids=["concat", "str", "iri-fn", "iri-const", "var-copy", "if-str", "if-iri",
         "coalesce-mixed", "coalesce-iri", "if-iri-fn"],
)
def test_update_template_stores_string_bindings_as_literals(spark, cat_root, expr, obj, kind):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(spark, cat, "INSERT DATA { <urn:s> <urn:p> <urn:o> }")
    sparql.execute_update(
        spark, cat, f"INSERT {{ <urn:x> <urn:q> ?n }} WHERE {{ ?s <urn:p> ?o BIND({expr} AS ?n) }}"
    )
    rows = cat.read_statements().where(F.col("pred") == "urn:q").collect()
    assert [(r.obj, r.obj_kind, r.obj_dt, r.obj_lang) for r in rows] == [(obj, kind, None, None)]


@pytest.mark.parametrize(
    "value, ddl, obj, dt",
    [
        (7, "int", "7", "integer"),
        (-7, "bigint", "-7", "integer"),
        ("1.50", "decimal(4,2)", "1.5", "decimal"),
        (1.5, "double", "1.5E0", "double"),
        (0.25, "float", "2.5E-1", "double"),
        (float("inf"), "double", "INF", "double"),
        (float("-inf"), "double", "-INF", "double"),
        (False, "boolean", "false", "boolean"),
    ],
    ids=["int", "bigint", "decimal", "double", "float", "inf", "-inf", "boolean"],
)
def test_instantiated_numeric_binding_reads_back_canonical(spark, cat_root, value, ddl, obj, dt):
    from decimal import Decimal

    from tripleforge import update
    from tripleforge.canon import canonicalize
    from tripleforge.sparql import _instantiate

    if ddl.startswith("decimal"):
        value = Decimal(value)
    sol = spark.createDataFrame([(value,)], f"n {ddl}")
    template = [(("iri", "urn:x"), ("iri", "urn:q"), ("var", "n"), None)]
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    update.insert_data(cat, canonicalize(_instantiate(sol, template, "urn:g")))
    rows = cat.read_statements().collect()
    assert [(r.obj, r.obj_kind, r.obj_dt) for r in rows] == [(obj, "literal", _XSD + dt)]


def test_filter_pending_plain_join_path_matches_broadcast(spark, cat_root, no_auto_broadcast):
    """checkpoint.filter_pending as a shuffle anti-join (no broadcast
    allowed) must produce the pending set the broadcast one does."""
    from tripleforge.checkpoint import filter_pending
    from tripleforge.pipeline import BuildConfig, build

    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    corpus = spark.createDataFrame(
        [
            ("r1", "a.nt", "c1", "N-Triples", "<urn:s> <urn:p> <urn:o> ."),
            ("r2", "b.nt", "c2", "N-Triples", "<urn:s2> <urn:p> <urn:o> ."),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    build(spark, corpus.where("repo = 'r1'"), cat, BuildConfig(run_id="b1", link_entities=False))
    bcast = {r.repo for r in filter_pending(corpus, cat).select("repo").collect()}
    with no_auto_broadcast():
        plain = {r.repo for r in filter_pending(corpus, cat).select("repo").collect()}
    assert bcast == plain == {"r2"}


def test_query_iri_constants_canonicalized(stmts):
    """<HTTP://…>-style constants in query patterns must match the
    store's canonical IRIs (RDF4J matches parsed identity, not
    spelling). urn: terms in the fixture are already canonical; use a
    scheme-case variant of an added http IRI."""
    extra = stmts.sparkSession.createDataFrame(
        [("http://ex.org/d9", "urn:p:source", "urn:src:z", "iri", None, None, "urn:g")],
        stmts.schema,
    )
    data = stmts.unionByName(extra)
    rows = sparql.select(
        data, "SELECT ?s WHERE { <HTTP://EX.ORG/d9> <urn:p:source> ?s }"
    ).collect()
    assert {r.s for r in rows} == {"urn:src:z"}


def test_group_by_aggregates(stmts):
    rows = sparql.select(
        stmts,
        """SELECT ?g (COUNT(*) AS ?n) (SUM(?v) AS ?total) (AVG(?v) AS ?mean)
           WHERE { GRAPH ?g { ?d <urn:p:nchars> ?v } }
           GROUP BY ?g""",
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.g, r.n, r.total, r.mean) == ("urn:g", 2, 30.0, 15.0)


def test_global_aggregate_and_count_distinct(stmts):
    r = sparql.select(
        stmts,
        "SELECT (COUNT(DISTINCT ?d) AS ?docs) (MAX(?v) AS ?mx) "
        "WHERE { ?d <urn:p:nchars> ?v }",
    ).first()
    assert (r.docs, r.mx) == (2, 20.0)


def test_order_by_offset_limit(stmts):
    rows = sparql.select(
        stmts,
        "SELECT ?d ?v WHERE { ?d <urn:p:nchars> ?v } ORDER BY DESC(?v) LIMIT 1",
    ).collect()
    assert [(r.d, r.v) for r in rows] == [("urn:d2", "20")]
    rows = sparql.select(
        stmts,
        "SELECT ?d WHERE { ?d <urn:p:nchars> ?v } ORDER BY ?d OFFSET 1",
    ).collect()
    assert [r.d for r in rows] == ["urn:d2"]


def test_aggregate_projection_rules(stmts):
    with pytest.raises(sparql.SparqlError, match="GROUP BY"):
        sparql.select(
            stmts,
            "SELECT ?d (COUNT(*) AS ?n) WHERE { ?d <urn:p:nchars> ?v }",
        )
    # SUM/AVG(DISTINCT …) are legal SPARQL 1.1 §18.4.1 (supported
    # since r4); correctness is covered by test_agg_distinct below


def _seed_store(spark, cat):
    sparql.execute_update(
        spark, cat,
        """
        INSERT DATA {
          GRAPH <urn:g1> {
            <urn:a> <urn:p:age> 30 .
            <urn:a> <urn:p:name> "alice" .
            <urn:b> <urn:p:age> 40 .
          }
          GRAPH <urn:g2> { <urn:a> <urn:p:age> 30 . }
        }
        """,
        run_id="seed",
    )


def test_delete_where(spark, cat_root):
    """DELETE WHERE: pattern doubles as template; matches delete from
    their ACTUAL graphs (wildcard graph) with typed objects."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat, "DELETE WHERE { <urn:a> <urn:p:age> ?v }", run_id="d1"
    )
    left = {(r.subj, r.pred, r.graph) for r in cat.read_statements()
            .select("subj", "pred", "graph").collect()}
    # urn:a age deleted from BOTH graphs; name + urn:b age survive
    assert left == {("urn:a", "urn:p:name", "urn:g1"), ("urn:b", "urn:p:age", "urn:g1")}


def test_delete_where_constant_object_and_with(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    # WITH restricts matching to one graph; constant object must match
    # the canonical stored form ("30", xsd:integer)
    sparql.execute_update(
        spark, cat, "WITH <urn:g2> DELETE WHERE { ?s <urn:p:age> 30 }", run_id="d1"
    )
    graphs = {r.graph for r in cat.read_statements().select("graph").collect()}
    assert graphs == {"urn:g1"}  # g2's only statement gone, g1 intact
    assert cat.read_statements().count() == 3


def test_modify_delete_insert_where(spark, cat_root):
    """Atomic DELETE {t} INSERT {t} WHERE {p}: rename a predicate in
    one snapshot, preserving object typing through the template vars."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    before = cat.latest_snapshot_id()
    sparql.execute_update(
        spark, cat,
        """
        DELETE { GRAPH <urn:g1> { ?s <urn:p:age> ?v } }
        INSERT { GRAPH <urn:g1> { ?s <urn:p:years> ?v } }
        WHERE { GRAPH <urn:g1> { ?s <urn:p:age> ?v } }
        """,
        run_id="m1",
    )
    assert cat.latest_snapshot_id() == before + 1  # ONE snapshot
    rows = {
        (r.subj, r.pred, r.obj, r.obj_dt, r.graph)
        for r in cat.read_statements()
        .select("subj", "pred", "obj", "obj_dt", "graph")
        .collect()
    }
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    assert ("urn:a", "urn:p:years", "30", xsd_int, "urn:g1") in rows
    assert ("urn:b", "urn:p:years", "40", xsd_int, "urn:g1") in rows
    assert not any(p == "urn:p:age" and g == "urn:g1" for _, p, _, _, g in rows)
    assert ("urn:a", "urn:p:age", "30", xsd_int, "urn:g2") in rows  # untouched


def test_insert_where(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        INSERT { GRAPH <urn:derived> { ?s <urn:p:adult> true } }
        WHERE { GRAPH <urn:g1> { ?s <urn:p:age> ?v . FILTER (?v >= 30) } }
        """,
        run_id="i2",
    )
    derived = {
        (r.subj, r.obj, r.obj_dt)
        for r in cat.read_statements()
        .where("graph = 'urn:derived'")
        .select("subj", "obj", "obj_dt")
        .collect()
    }
    assert derived == {
        ("urn:a", "true", "http://www.w3.org/2001/XMLSchema#boolean"),
        ("urn:b", "true", "http://www.w3.org/2001/XMLSchema#boolean"),
    }


def test_load(spark, cat_root, tmp_path):
    """LOAD <file> [INTO GRAPH <g>] — the reference loader's core op."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    f = tmp_path / "data.nt"
    f.write_text("<urn:s> <urn:p> <urn:o> .\n<urn:s2> <urn:p> \"x\" .\n")
    sparql.execute_update(
        spark, cat, f"LOAD <file://{f}> INTO GRAPH <urn:loaded>", run_id="l1"
    )
    rows = {(r.subj, r.graph) for r in cat.read_statements().select("subj", "graph").collect()}
    assert rows == {("urn:s", "urn:loaded"), ("urn:s2", "urn:loaded")}


def test_clear_and_drop(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(spark, cat, "CLEAR GRAPH <urn:g2>", run_id="c1")
    assert {r.graph for r in cat.read_statements().select("graph").collect()} == {"urn:g1"}
    sparql.execute_update(spark, cat, "DROP SILENT ALL", run_id="c2")
    assert cat.read_statements().count() == 0


def test_clear_default_and_named(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat, 'INSERT DATA { <urn:d> <urn:p> "x" . }', run_id="i"
    )  # default (null) graph
    sparql.execute_update(spark, cat, "CLEAR DEFAULT", run_id="c1")
    graphs = {r.graph for r in cat.read_statements().select("graph").collect()}
    assert graphs == {"urn:g1", "urn:g2"}
    sparql.execute_update(
        spark, cat, 'INSERT DATA { <urn:d> <urn:p> "x" . }', run_id="i2"
    )
    sparql.execute_update(spark, cat, "CLEAR NAMED", run_id="c2")
    rows = cat.read_statements().select("subj", "graph").collect()
    assert {(r.subj, r.graph) for r in rows} == {("urn:d", None)}


def test_copy_move_add_graphs(spark, cat_root):
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)

    def snap():
        return {
            (r.subj, r.pred, r.graph)
            for r in cat.read_statements().select("subj", "pred", "graph").collect()
        }

    # ADD g1 TO g2: union, g1 kept; one snapshot
    before = cat.latest_snapshot_id()
    sparql.execute_update(spark, cat, "ADD GRAPH <urn:g1> TO GRAPH <urn:g2>", run_id="a1")
    assert cat.latest_snapshot_id() == before + 1
    s = snap()
    assert ("urn:a", "urn:p:name", "urn:g2") in s and ("urn:a", "urn:p:name", "urn:g1") in s
    # COPY g1 TO g3: g3 := g1
    sparql.execute_update(spark, cat, "COPY <urn:g1> TO <urn:g3>", run_id="a2")
    s = snap()
    assert {(x, p) for x, p, g in s if g == "urn:g3"} == {(x, p) for x, p, g in s if g == "urn:g1"}
    # MOVE g3 TO g4: g3 emptied
    sparql.execute_update(spark, cat, "MOVE <urn:g3> TO <urn:g4>", run_id="a3")
    s = snap()
    assert not any(g == "urn:g3" for _, _, g in s)
    assert {(x, p) for x, p, g in s if g == "urn:g4"} == {(x, p) for x, p, g in s if g == "urn:g1"}
    # CREATE is a no-op
    sid = sparql.execute_update(spark, cat, "CREATE GRAPH <urn:new>", run_id="a4")
    assert sid == cat.latest_snapshot_id()


def test_union(stmts):
    rows = sparql.select(
        stmts,
        """SELECT ?x WHERE {
             { ?x <urn:p:source> <urn:src:a> }
             UNION
             { ?x a <urn:T> }
           }""",
    ).collect()
    assert {r.x for r in rows} == {"urn:d1", "urn:d3"}


def test_union_unbound_vars_null(stmts):
    rows = sparql.select(
        stmts,
        """SELECT ?x ?n ?t WHERE {
             { ?x <urn:p:nchars> ?n }
             UNION
             { ?x a ?t }
           }""",
    ).collect()
    got = {(r.x, r.n, r.t) for r in rows}
    assert ("urn:d1", "10", None) in got
    assert ("urn:d3", None, "urn:T") in got
    assert len(got) == 3


def test_values(stmts):
    rows = sparql.select(
        stmts,
        """SELECT ?d ?n WHERE {
             ?d <urn:p:nchars> ?n .
             VALUES ?d { <urn:d2> <urn:d9> }
           }""",
    ).collect()
    assert {(r.d, r.n) for r in rows} == {("urn:d2", "20")}


def test_union_rejected_in_delete_where_shorthand(spark, cat_root):
    """Per-grammar DELETE WHERE takes a QuadPattern — no UNION; the
    error points at the full modify form (which does support it)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    with pytest.raises(sparql.SparqlError, match="UNION"):
        sparql.execute_update(
            spark, cat,
            "DELETE WHERE { { ?s <urn:p> ?o } UNION { ?s <urn:q> ?o } }",
            run_id="x",
        )


def test_union_in_insert_where(spark, cat_root):
    """r5d lift: the modify form's WHERE is a full GroupGraphPattern,
    so top-level UNION evaluates exactly as in SELECT."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        INSERT { GRAPH <urn:derived> { ?s <urn:p:flag> true } }
        WHERE {
          { GRAPH <urn:g1> { ?s <urn:p:age> 40 } }
          UNION
          { GRAPH <urn:g1> { ?s <urn:p:name> "alice" } }
        }
        """,
        run_id="u1",
    )
    derived = {
        r.subj
        for r in cat.read_statements()
        .where("graph = 'urn:derived'")
        .select("subj")
        .collect()
    }
    assert derived == {"urn:a", "urn:b"}


def test_union_in_modify_delete_insert_where(spark, cat_root):
    """DELETE/INSERT templates instantiate once per union solution;
    unbound-in-arm template vars skip instantiation (no null terms)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    before = cat.latest_snapshot_id()
    sparql.execute_update(
        spark, cat,
        """
        DELETE { GRAPH <urn:g1> { ?s <urn:p:age> ?v } }
        INSERT { GRAPH <urn:g1> { ?s <urn:p:touched> true } }
        WHERE {
          { GRAPH <urn:g1> { ?s <urn:p:age> ?v . FILTER (?v > 35) } }
          UNION
          { GRAPH <urn:g1> { ?s <urn:p:name> "alice" } }
        }
        """,
        run_id="m1",
    )
    assert cat.latest_snapshot_id() == before + 1  # one atomic snapshot
    rows = {
        (r.subj, r.pred, r.graph)
        for r in cat.read_statements()
        .select("subj", "pred", "graph")
        .collect()
    }
    # ?v bound only in arm 1 → only urn:b's age deleted
    assert ("urn:b", "urn:p:age", "urn:g1") not in rows
    assert ("urn:a", "urn:p:age", "urn:g1") in rows
    # both arms' subjects touched
    assert ("urn:a", "urn:p:touched", "urn:g1") in rows
    assert ("urn:b", "urn:p:touched", "urn:g1") in rows
    assert ("urn:a", "urn:p:age", "urn:g2") in rows  # other graph untouched


def test_union_in_update_with_graph_injection(spark, cat_root):
    """WITH <g> scopes BOTH union arms' patterns (and the templates)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        WITH <urn:g1>
        INSERT { ?s <urn:p:hit> true }
        WHERE {
          { ?s <urn:p:age> 30 } UNION { ?s <urn:p:age> 40 }
        }
        """,
        run_id="w1",
    )
    hits = {
        (r.subj, r.graph)
        for r in cat.read_statements()
        .where("pred = 'urn:p:hit'")
        .select("subj", "graph")
        .collect()
    }
    # urn:a has age 30 in g2 as well, but WITH restricts matching to g1;
    # both matches land in g1 via the WITH template default
    assert hits == {("urn:a", "urn:g1"), ("urn:b", "urn:g1")}


def test_property_path_in_update_where(spark, cat_root):
    """Updates share SELECT's evaluation path, so property paths work
    in the modify form's WHERE (e.g. mark everything reachable)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(
        spark, cat,
        """
        INSERT DATA { GRAPH <urn:g> {
          <urn:n1> <urn:p:next> <urn:n2> .
          <urn:n2> <urn:p:next> <urn:n3> .
        } }
        """,
        run_id="seed",
    )
    sparql.execute_update(
        spark, cat,
        """
        INSERT { GRAPH <urn:g> { ?x <urn:p:reach> true } }
        WHERE { GRAPH <urn:g> { <urn:n1> <urn:p:next>+ ?x } }
        """,
        run_id="p1",
    )
    reached = {
        r.subj
        for r in cat.read_statements()
        .where("pred = 'urn:p:reach'")
        .select("subj")
        .collect()
    }
    assert reached == {"urn:n2", "urn:n3"}


def test_subquery_in_update_where(spark, cat_root):
    """Aggregating subquery inside the modify form's WHERE: delete the
    ages of subjects at the global maximum age."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        WITH <urn:g1>
        DELETE { ?s <urn:p:age> ?v }
        WHERE {
          ?s <urn:p:age> ?v .
          { SELECT (MAX(?a) AS ?v) WHERE { GRAPH <urn:g1> { ?x <urn:p:age> ?a } } }
        }
        """,
        run_id="sq1",
    )
    ages = {
        (r.subj, r.obj)
        for r in cat.read_statements()
        .where("pred = 'urn:p:age' and graph = 'urn:g1'")
        .select("subj", "obj")
        .collect()
    }
    assert ages == {("urn:a", "30")}  # urn:b's 40 (the max) deleted


def test_construct_skips_solutions_with_unbound_template_vars(stmts, spark):
    """SPARQL semantics: a solution that leaves a template variable
    unbound (OPTIONAL miss) instantiates NO statement for that triple —
    never a null-term statement."""
    extra = spark.createDataFrame(
        [("urn:d1", "urn:p:extra", "E", "literal",
          "http://www.w3.org/2001/XMLSchema#string", None, "urn:g")],
        stmts.schema,
    )
    data = stmts.unionByName(extra)
    out = sparql.construct(
        data,
        """CONSTRUCT { ?d <urn:p:hasExtra> ?e . ?d <urn:p:seen> "y" . }
           WHERE { ?d <urn:p:nchars> ?n . OPTIONAL { ?d <urn:p:extra> ?e } }""",
    ).collect()
    rows = {(r.subj, r.pred, r.obj) for r in out}
    assert ("urn:d1", "urn:p:hasExtra", "E") in rows
    # d2 has no extra → NO hasExtra triple, but the constant triple stays
    assert not any(s == "urn:d2" and p == "urn:p:hasExtra" for s, p, _ in rows)
    assert ("urn:d2", "urn:p:seen", "y") in rows
    assert not any(o is None for _, _, o in rows)


def test_connected_chain_bgp_does_not_raise(spark):
    """ADVICE r2: a fully CONNECTED chain whose most-selective pattern
    sorts first must not be misflagged as a cross product — greedy
    connectivity ordering picks joinable patterns."""
    from tripleforge.query import Pattern, bgp

    stmts = spark.createDataFrame(
        [
            ("urn:a1", "urn:p", "urn:b1", "iri", None, None, "g"),
            ("urn:b1", "urn:q", "urn:c1", "iri", None, None, "g"),
            ("urn:c1", "urn:r", "urn:x", "iri", None, None, "g"),
            ("urn:a2", "urn:p", "urn:b2", "iri", None, None, "g"),
            ("urn:b2", "urn:q", "urn:c2", "iri", None, None, "g"),
            ("urn:c2", "urn:r", "urn:y", "iri", None, None, "g"),
        ],
        "subj string, pred string, obj string, obj_kind string, "
        "obj_dt string, obj_lang string, graph string",
    )
    # the 2-bound pattern (?c r <x>) is most selective and seeds the
    # join; ?a p ?b connects only transitively through ?b q ?c
    rows = bgp(
        stmts,
        [
            Pattern(s="?a", p="urn:p", o="?b"),
            Pattern(s="?b", p="urn:q", o="?c"),
            Pattern(s="?c", p="urn:r", o="urn:x"),
        ],
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["c"]) == ("urn:a1", "urn:b1", "urn:c1")

    # the same chain through the SPARQL text front-end (no
    # allow_cartesian escape hatch exists there)
    from tripleforge import sparql

    out = sparql.select(
        stmts,
        "SELECT ?a WHERE { ?a <urn:p> ?b . ?b <urn:q> ?c . ?c <urn:r> <urn:x> }",
    ).collect()
    assert [r["a"] for r in out] == ["urn:a1"]

    # genuinely disconnected patterns still raise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cross product"):
        bgp(
            stmts,
            [Pattern(s="?a", p="urn:p", o="?b"), Pattern(s="?x", p="urn:q", o="?y")],
        )


def test_modify_using_scopes_where(spark, cat_root):
    """USING <g> makes g the WHERE clause's default graph (SPARQL 1.1
    §3.1.3): only g2's match drives the INSERT; g1's rows don't."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        INSERT { GRAPH <urn:out> { ?s <urn:p:seen> ?v } }
        USING <urn:g2>
        WHERE { ?s <urn:p:age> ?v }
        """,
        run_id="u1",
    )
    rows = {
        (r.subj, r.pred, r.obj, r.graph)
        for r in cat.read_statements()
        .where("graph = 'urn:out'")
        .select("subj", "pred", "obj", "graph")
        .collect()
    }
    # only urn:a has an age in g2; urn:b's age lives in g1 only
    assert rows == {("urn:a", "urn:p:seen", "30", "urn:out")}


def test_modify_using_named_graph_var(spark, cat_root):
    """USING NAMED restricts GRAPH ?g in the WHERE clause; the bound
    graph flows into the template."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        INSERT { GRAPH ?g { ?s <urn:p:flag> "x" } }
        USING NAMED <urn:g2>
        WHERE { GRAPH ?g { ?s <urn:p:age> ?v } }
        """,
        run_id="u2",
    )
    rows = {
        (r.subj, r.graph)
        for r in cat.read_statements()
        .where("pred = 'urn:p:flag'")
        .select("subj", "graph")
        .collect()
    }
    assert rows == {("urn:a", "urn:g2")}


def test_modify_using_overrides_with(spark, cat_root):
    """When USING is present, WITH no longer scopes the WHERE clause
    (it still provides the templates' default graph)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    _seed_store(spark, cat)
    sparql.execute_update(
        spark, cat,
        """
        WITH <urn:tgt>
        INSERT { ?s <urn:p:mark> "y" }
        USING <urn:g1>
        WHERE { ?s <urn:p:name> ?n }
        """,
        run_id="u3",
    )
    rows = {
        (r.subj, r.graph)
        for r in cat.read_statements()
        .where("pred = 'urn:p:mark'")
        .select("subj", "graph")
        .collect()
    }
    # WHERE matched in g1 (name lives there); template wrote to WITH's graph
    assert rows == {("urn:a", "urn:tgt")}


def test_trailing_values_clause(spark):
    """Query-final VALUES (§10.2): restricts solutions and can bind
    new variables; joins before GROUP BY (§18.2.4 algebra order)."""
    df = spark.createDataFrame(
        [(f"urn:d:{i}", "urn:p:n", str(i * 100), "literal",
          "http://www.w3.org/2001/XMLSchema#integer", None, "g")
         for i in range(1, 5)],
        "subj string, pred string, obj string, obj_kind string, "
        "obj_dt string, obj_lang string, graph string",
    )
    out = sparql.select(
        df,
        "SELECT ?d ?n WHERE { ?d <urn:p:n> ?n } "
        "VALUES ?d { <urn:d:1> <urn:d:3> }",
    )
    assert sorted(r["d"] for r in out.collect()) == ["urn:d:1", "urn:d:3"]
    out = sparql.select(
        df,
        "SELECT ?d ?tag WHERE { ?d <urn:p:n> ?n } "
        'VALUES (?d ?tag) { (<urn:d:2> "two") (<urn:d:4> UNDEF) }',
    )
    assert sorted((r["d"], r["tag"]) for r in out.collect()) == [
        ("urn:d:2", "two"), ("urn:d:4", None)]
    agg = sparql.select(
        df,
        "SELECT (COUNT(*) AS ?c) WHERE { ?d <urn:p:n> ?n } "
        "VALUES ?d { <urn:d:1> <urn:d:2> }",
    )
    assert agg.first()["c"] == 2


def test_delete_where_default_graph(spark, cat_root):
    """DELETE WHERE must delete statements living in the DEFAULT graph
    (null graph): the synthetic graph binder carries null as a value,
    not as an unbound variable (r3b regression — was a silent no-op)."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(
        spark, cat,
        "PREFIX p: <urn:p:> INSERT DATA { <urn:a> p:x 1 . <urn:a> p:y 2 . }",
        run_id="dg1",
    )
    sparql.execute_update(
        spark, cat, "DELETE WHERE { <urn:a> <urn:p:y> ?v }", run_id="dg2"
    )
    left = sorted(
        (r.subj, r.pred, r.obj) for r in cat.read_statements().collect()
    )
    assert left == [("urn:a", "urn:p:x", "1")]


def test_update_sequence(spark, cat_root):
    """op1 ; op2 ; op3 — each operation sees the previous one's result;
    the request prologue scopes every segment; ';' inside quad blocks
    and string literals must not split."""
    cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=4)
    sparql.execute_update(
        spark, cat,
        """
        PREFIX p: <urn:p:>
        INSERT DATA { <urn:a> p:x 1 . <urn:a> p:y 2 ; p:z 3 . } ;
        DELETE WHERE { <urn:a> p:y ?v } ;
        INSERT DATA { <urn:b> p:x "semi;colon" . }
        """,
        run_id="seq",
    )
    rows = sorted(
        (r.subj, r.pred, r.obj) for r in cat.read_statements().collect()
    )
    assert rows == [
        ("urn:a", "urn:p:x", "1"),
        ("urn:a", "urn:p:z", "3"),
        ("urn:b", "urn:p:x", "semi;colon"),
    ]
    assert cat.latest_snapshot_id() == 3  # one snapshot per operation


def test_construct_where_shorthand(spark):
    """CONSTRUCT WHERE { … } (§16.2.1): the pattern doubles as the
    template, with typed objects carried through."""
    df = spark.createDataFrame(
        [
            ("urn:a", "urn:p:n", "42", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None, "urn:g1"),
            ("urn:b", "urn:p:n", "7", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None, "urn:g2"),
        ],
        "subj string, pred string, obj string, obj_kind string, "
        "obj_dt string, obj_lang string, graph string",
    )
    out = sparql.construct(df, "CONSTRUCT WHERE { ?s <urn:p:n> ?o }")
    got = {(r.subj, r.obj, r.obj_dt) for r in out.collect()}
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    assert got == {("urn:a", "42", xsd_int), ("urn:b", "7", xsd_int)}
    # dataset clause composes with the shorthand
    out = sparql.construct(
        df, "CONSTRUCT FROM <urn:g1> WHERE { ?s <urn:p:n> ?o }"
    )
    assert [(r.subj, r.obj) for r in out.collect()] == [("urn:a", "42")]
    with pytest.raises(sparql.SparqlError):
        sparql.construct(
            df, "CONSTRUCT WHERE { ?s <urn:p:n> ?o . FILTER(?o > 1) }"
        )


def test_triple_block_syntax(spark):
    """Turtle-style triple blocks in WHERE (r3b): predicate-object
    lists (';'), object lists (','), blank-node property lists, and
    labeled blank nodes as non-distinguished variables."""
    df = spark.createDataFrame(
        [
            ("urn:a", "urn:p:n", "1", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None, "g"),
            ("urn:a", "urn:p:m", "2", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None, "g"),
            ("urn:b", "urn:p:n", "3", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None, "g"),
            ("urn:a", "urn:p:rel", "urn:c", "iri", None, None, "g"),
            ("urn:c", "urn:p:n", "9", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None, "g"),
        ],
        "subj string, pred string, obj string, obj_kind string, "
        "obj_dt string, obj_lang string, graph string",
    )
    out = sparql.select(
        df, "SELECT ?s ?n ?m WHERE { ?s <urn:p:n> ?n ; <urn:p:m> ?m }"
    )
    assert [(r.s, r.n, r.m) for r in out.collect()] == [("urn:a", "1", "2")]
    out = sparql.select(df, 'SELECT ?s WHERE { ?s <urn:p:n> "1", "1" }')
    assert [r.s for r in out.collect()] == ["urn:a"]
    # bnode property list joins its inner patterns on the fresh var
    out = sparql.select(
        df, "SELECT ?n WHERE { [ <urn:p:n> ?n ; <urn:p:m> 2 ] }"
    )
    assert [r.n for r in out.collect()] == ["1"]
    out = sparql.select(
        df, "SELECT ?s WHERE { ?s <urn:p:rel> [ <urn:p:n> 9 ] }"
    )
    assert [r.s for r in out.collect()] == ["urn:a"]
    # labeled bnodes: same label = same variable within the group
    out = sparql.select(
        df, "SELECT ?n WHERE { _:x <urn:p:n> ?n . _:x <urn:p:m> 2 }"
    )
    assert [r.n for r in out.collect()] == ["1"]
    # SELECT * hides the non-distinguished variables
    out = sparql.select(
        df, "SELECT * WHERE { [ <urn:p:n> ?n ; <urn:p:m> 2 ] }"
    )
    assert out.columns == ["n"]


def test_update_sequence_splitter_edges():
    """The ';' splitter must not split inside comments, multi-line
    strings, escaped quotes, or quad blocks."""
    from tripleforge.sparql import _split_update_sequence

    t = (
        '# note; with semicolon and "quote\n'
        'INSERT DATA { <urn:a> <urn:p> """multi\nline; text""" . } ;\n'
        "DELETE WHERE { <urn:a> <urn:p> ?v }"
    )
    assert len(_split_update_sequence(t)) == 2
    t2 = 'INSERT DATA { <urn:a> <urn:p> "a\\";b" . } ; LOAD <file:///x.nt>'
    assert len(_split_update_sequence(t2)) == 2
    assert len(_split_update_sequence("LOAD <file:///x.nt>")) == 1
