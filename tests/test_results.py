"""W3C SPARQL 1.1 Query Results serializers (VERDICT r2 #7): CSV, TSV,
JSON envelope, JSONL bindings — round-trip and shape tests. Reference
analog: RDF4J's SPARQLResultsCSV/TSV/JSONWriter behind the reference's
``sparql`` CLI (public behavior; /root/reference is empty)."""

from __future__ import annotations

import csv
import io as _io
import json
import os

import pytest

from tripleforge import results, sparql

SCHEMA = (
    "subj string, pred string, obj string, obj_kind string, "
    "obj_dt string, obj_lang string, graph string"
)


@pytest.fixture(scope="module")
def bindings(spark):
    stmts = spark.createDataFrame(
        [
            ("urn:doc:1", "urn:p:label", 'say "hi",\nok', "literal",
             "http://www.w3.org/2001/XMLSchema#string", None, "g"),
            ("urn:doc:2", "urn:p:label", "plain", "literal",
             "http://www.w3.org/2001/XMLSchema#string", None, "g"),
            ("urn:doc:2", "urn:p:rel", "http://ex.org/x", "iri", None, None, "g"),
        ],
        SCHEMA,
    )
    return sparql.select(
        stmts,
        "SELECT ?d ?v WHERE { ?d ?p ?v . FILTER(?p != <urn:none>) }",
    )


def test_csv_roundtrip(bindings, tmp_path):
    path = str(tmp_path / "out.csv")
    results.write_csv(bindings, path)
    with open(path, encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == ["d", "v"]
    body = {tuple(r) for r in rows[1:]}
    # RFC4180: the embedded quote/comma/newline value survives intact
    assert ("urn:doc:1", 'say "hi",\nok') in body
    assert ("urn:doc:2", "plain") in body
    assert ("urn:doc:2", "http://ex.org/x") in body


def test_tsv_format(bindings, tmp_path):
    path = str(tmp_path / "out.tsv")
    results.write_tsv(bindings, path)
    lines = open(path, encoding="utf-8").read().splitlines()
    assert lines[0] == "?d\t?v"
    data = set(lines[1:])
    # IRIs in angle brackets, literals quoted with ECHAR escapes
    assert "<urn:doc:2>\t<http://ex.org/x>" in data
    assert "<urn:doc:2>\t\"plain\"" in data
    assert '<urn:doc:1>\t"say \\"hi\\",\\nok"' in data


def test_json_envelope(bindings):
    doc = results.sparql_results_json(bindings)
    assert doc["head"]["vars"] == ["d", "v"]
    bts = doc["results"]["bindings"]
    assert len(bts) == 3
    by_val = {b["v"]["value"]: b["v"]["type"] for b in bts}
    assert by_val["http://ex.org/x"] == "uri"
    assert by_val["plain"] == "literal"
    assert all(b["d"]["type"] == "uri" for b in bts)


def test_json_ask_envelope(spark):
    stmts = spark.createDataFrame(
        [("urn:s", "urn:p", "urn:o", "iri", None, None, "g")], SCHEMA
    )
    out = sparql.ask(stmts, "ASK { <urn:s> <urn:p> <urn:o> }")
    doc = results.sparql_results_json(out)
    assert doc == {"head": {}, "boolean": True}


def test_jsonl_bindings_distributed(bindings):
    lines = [json.loads(r["line"]) for r in results.bindings_json_lines(bindings).collect()]
    assert len(lines) == 3
    assert all("d" in x and "v" in x for x in lines)


def test_numeric_bindings(spark):
    stmts = spark.createDataFrame(
        [("urn:doc:1", "urn:p:nchars", "100", "literal",
          "http://www.w3.org/2001/XMLSchema#integer", None, "g")],
        SCHEMA,
    )
    out = sparql.select(
        stmts, "SELECT ?d (?n * 2 AS ?dbl) WHERE { ?d <urn:p:nchars> ?n }"
    )
    doc = results.sparql_results_json(out)
    b = doc["results"]["bindings"][0]
    assert b["dbl"]["type"] == "literal"
    assert b["dbl"]["datatype"].endswith("#double")
    assert float(b["dbl"]["value"]) == 200.0
    tsv = results.to_tsv_lines(out).collect()[0]["line"]
    assert tsv == "<urn:doc:1>\t200.0"


def test_null_bindings_serialize_empty(spark):
    stmts = spark.createDataFrame(
        [
            ("urn:doc:1", "urn:p:a", "x", "literal", None, None, "g"),
            ("urn:doc:1", "urn:p:b", "y", "literal", None, None, "g"),
            ("urn:doc:2", "urn:p:a", "z", "literal", None, None, "g"),
        ],
        SCHEMA,
    )
    out = sparql.select(
        stmts,
        "SELECT ?d ?b WHERE { ?d <urn:p:a> ?a . OPTIONAL { ?d <urn:p:b> ?b } }",
    )
    lines = {r["line"] for r in results.to_tsv_lines(out).collect()}
    assert '<urn:doc:2>\t' in lines  # unbound → empty field, tab kept
    doc = results.sparql_results_json(out)
    row2 = [b for b in doc["results"]["bindings"] if b["d"]["value"] == "urn:doc:2"][0]
    assert "b" not in row2  # W3C: unbound vars omitted from the binding


def test_write_results_dispatch(bindings, tmp_path):
    for fmt in ("csv", "tsv", "json", "xml"):
        p = str(tmp_path / f"r.{fmt}")
        results.write_results(bindings, p, fmt)
        assert os.path.getsize(p) > 0
    with pytest.raises(ValueError, match="unknown result format"):
        results.write_results(bindings, str(tmp_path / "x"), "rdfa")


def test_xml_envelope(bindings):
    """W3C SPARQL Results XML: well-formed, namespace, head vars,
    term typing identical to the JSON serializer."""
    import xml.etree.ElementTree as ET

    doc = results.sparql_results_xml(bindings)
    root = ET.fromstring(doc)
    ns = "{http://www.w3.org/2005/sparql-results#}"
    assert root.tag == ns + "sparql"
    head = root.find(ns + "head")
    assert [v.get("name") for v in head] == ["d", "v"]
    rows = root.findall(f"{ns}results/{ns}result")
    assert len(rows) == 3
    terms = {}
    for r in rows:
        for b in r.findall(ns + "binding"):
            if b.get("name") == "v":
                child = b[0]
                terms[child.text] = child.tag
    # escaping survives the XML round-trip; IRI-shaped value → <uri>
    assert terms['say "hi",\nok'] == ns + "literal"
    assert terms["http://ex.org/x"] == ns + "uri"


def test_xml_ask_envelope(spark):
    stmts = spark.createDataFrame(
        [("urn:s", "urn:p", "o", "literal",
          "http://www.w3.org/2001/XMLSchema#string", None, "g")],
        SCHEMA,
    )
    out = sparql.ask(stmts, "ASK { <urn:s> <urn:p> ?o }")
    doc = results.sparql_results_xml(out)
    import xml.etree.ElementTree as ET

    root = ET.fromstring(doc)
    ns = "{http://www.w3.org/2005/sparql-results#}"
    assert root.find(ns + "boolean").text == "true"


def test_write_results_xml(bindings, tmp_path):
    path = str(tmp_path / "out.xml")
    results.write_results(bindings, path, "xml")
    import xml.etree.ElementTree as ET

    root = ET.parse(path).getroot()
    assert root.tag.endswith("sparql")


_EX = "http://ex.org/"


@pytest.fixture(scope="module")
def export_frames(spark):
    """A small statement table (named + default graph, a language-tagged
    literal needing escapes, a typed literal, rdf:type) and a bindings
    table (a quote, comma and tab to escape, a null, a number)."""
    stmts = spark.createDataFrame(
        [
            (_EX + "a", _EX + "name", 'Al "A" & <b>', "literal", None, "en",
             _EX + "g1"),
            (_EX + "a", _EX + "knows", _EX + "b", "iri", None, None, _EX + "g1"),
            (_EX + "b", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
             _EX + "Person", "iri", None, None, None),
            (_EX + "b", _EX + "age", "42", "literal",
             "http://www.w3.org/2001/XMLSchema#integer", None, None),
        ],
        SCHEMA,
    )
    bindings = spark.createDataFrame(
        [(_EX + "a", 'say "hi",\tok', 1), (_EX + "b", None, 2)],
        "s string, label string, n bigint",
    )
    return stmts, bindings


_EXACT = {
    "csv": (
        's,label,n\n'
        'http://ex.org/a,"say ""hi"",\tok",1\n'
        'http://ex.org/b,,2\n'
    ),
    "tsv": (
        '?s\t?label\t?n\n'
        '<http://ex.org/a>\t"say \\"hi\\",\\tok"\t1\n'
        '<http://ex.org/b>\t\t2\n'
    ),
    "ttl": (
        '<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> ;\n'
        '    <http://ex.org/name> "Al \\"A\\" & <b>"@en .\n'
        '<http://ex.org/b> <http://ex.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> ;\n'
        '    a <http://ex.org/Person> .\n'
    ),
    "trig": (
        '<http://ex.org/b> <http://ex.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> ;\n'
        '    a <http://ex.org/Person> .\n'
        'GRAPH <http://ex.org/g1> {\n'
        '<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> ;\n'
        '    <http://ex.org/name> "Al \\"A\\" & <b>"@en .\n'
        '}\n'
    ),
    "jsonld-rdf": (
        '[\n'
        '{"@id": "http://ex.org/b", "@type": ["http://ex.org/Person"], "http://ex.org/age": [{"@value":"42","@type":"http://www.w3.org/2001/XMLSchema#integer"}]},\n'
        '{"@id": "http://ex.org/g1", "@graph": [{"@id": "http://ex.org/a", "http://ex.org/knows": [{"@id":"http://ex.org/b"}], "http://ex.org/name": [{"@value":"Al \\"A\\" & <b>","@language":"en"}]}]}\n'
        ']\n'
    ),
    "trix": (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">\n'
        '  <graph>\n'
        '    <uri>http://ex.org/g1</uri>\n'
        '    <triple><uri>http://ex.org/a</uri><uri>http://ex.org/knows</uri><uri>http://ex.org/b</uri></triple>\n'
        '    <triple><uri>http://ex.org/a</uri><uri>http://ex.org/name</uri><plainLiteral xml:lang="en">Al "A" &amp; &lt;b&gt;</plainLiteral></triple>\n'
        '  </graph>\n'
        '  <graph>\n'
        '    <triple><uri>http://ex.org/b</uri><uri>http://ex.org/age</uri><typedLiteral datatype="http://www.w3.org/2001/XMLSchema#integer">42</typedLiteral></triple>\n'
        '    <triple><uri>http://ex.org/b</uri><uri>http://www.w3.org/1999/02/22-rdf-syntax-ns#type</uri><uri>http://ex.org/Person</uri></triple>\n'
        '  </graph>\n'
        '</TriX>\n'
    ),
    "rdfxml": (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
        '  <rdf:Description rdf:about="http://ex.org/a">\n'
        '    <n:knows xmlns:n="http://ex.org/" rdf:resource="http://ex.org/b"/>\n'
        '    <n:name xmlns:n="http://ex.org/" xml:lang="en">Al "A" &amp; &lt;b&gt;</n:name>\n'
        '  </rdf:Description>\n'
        '  <rdf:Description rdf:about="http://ex.org/b">\n'
        '    <n:age xmlns:n="http://ex.org/" rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</n:age>\n'
        '    <n:type xmlns:n="http://www.w3.org/1999/02/22-rdf-syntax-ns#" rdf:resource="http://ex.org/Person"/>\n'
        '  </rdf:Description>\n'
        '</rdf:RDF>\n'
    ),
    "ttl-prefixed": (
        '@prefix ex: <http://ex.org/> .\n'
        '\n'
        'ex:a ex:knows ex:b ;\n'
        '    ex:name "Al \\"A\\" & <b>"@en .\n'
        'ex:b a ex:Person ;\n'
        '    ex:age "42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    ),
}


@pytest.mark.parametrize("fmt", sorted(_EXACT))
def test_single_file_export_text_is_pinned(export_frames, tmp_path, fmt):
    """Every single-file writer assembles its document through the one
    sink (io.write_single_file): the exact bytes are pinned per format,
    and no temp directory is left beside the file."""
    from tripleforge.turtle import write_turtle

    stmts, bindings = export_frames
    path = str(tmp_path / "out")
    if fmt == "ttl-prefixed":
        write_turtle(stmts, path, prefixes={"ex": _EX})
    else:
        results.write_results(bindings if fmt in ("csv", "tsv") else stmts, path, fmt)
    with open(path, encoding="utf-8", newline="") as fh:
        assert fh.read() == _EXACT[fmt]
    assert os.listdir(tmp_path) == ["out"]
