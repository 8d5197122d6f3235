"""RDF/XML serializer (r5; write-side of the A7 parser — the Rio
``RDFXMLWriter`` analog, public RDF4J behavior; /root/reference is
empty).

Spark-first, mirroring the Turtle writer: one ``rdf:Description``
block per subject is two hash aggregates (``collect_list`` per
(subject, predicate-element) then per subject), and every byte of XML
is a Catalyst column expression. No Python runs per row.

RDF/XML-specific constraints (both match Rio's writer):

- Predicates must serialize as QNames. Each property element declares
  its own namespace inline (``<n:local xmlns:n="ns">``) — no prefix
  table to coordinate across partitions. The local part is the longest
  NCName-shaped suffix of the predicate IRI; a predicate with no such
  suffix (e.g. ending in ``/``) CANNOT be expressed in RDF/XML and
  raises ``ValueError`` up front, exactly like Rio.
- RDF/XML has no named-graph syntax: the ``graph`` column is dropped
  (Rio's writer likewise discards context when targeting RDF/XML).

``single_file=True`` writes one ``<rdf:RDF>`` document.
``single_file=False`` writes a distributed text directory where each
row is a complete standalone document (same convention as the
TriX/JSON-LD writers' distributed modes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tripleforge.io import _RDF_LANGSTRING, _XSD_STRING, write_single_file
from tripleforge.schema import RDF_NS
from tripleforge.trix_out import _xml_escape

_HEADER = (
    '<?xml version="1.0" encoding="utf-8"?>\n'
    '<rdf:RDF xmlns:rdf="%s">\n' % RDF_NS
)
_FOOTER = "</rdf:RDF>\n"

# longest trailing run of NCName characters that starts with a letter
# or underscore — the QName local part (XML Namespaces §3; ASCII
# subset, conservative like the Turtle writer's _SAFE_LOCAL)
_NCNAME_TAIL = "([A-Za-z_][A-Za-z0-9_.-]*)$"


def _split_pred() -> tuple[Column, Column]:
    """Predicate IRI → (namespace, local) QName split."""
    local = F.regexp_extract(F.col("pred"), _NCNAME_TAIL, 1)
    ns = F.col("pred").substr(
        F.lit(1), F.length(F.col("pred")) - F.length(local)
    )
    return ns, local


def _property_xml() -> Column:
    """One statement → its property element, namespace declared
    inline: ``<n:local xmlns:n="ns" …>``."""
    ns, local = _split_pred()
    open_tag = F.concat(
        F.lit("    <n:"),
        local,
        F.lit(' xmlns:n="'),
        _xml_escape(ns, attr=True),
        F.lit('"'),
    )
    close_tag = F.concat(F.lit("</n:"), local, F.lit(">"))
    text = _xml_escape(F.col("obj"))
    return (
        F.when(
            F.col("obj_kind") == "iri",
            F.concat(
                open_tag,
                F.lit(' rdf:resource="'),
                _xml_escape(F.col("obj"), attr=True),
                F.lit('"/>'),
            ),
        )
        .when(
            F.col("obj_lang").isNotNull(),
            F.concat(
                open_tag,
                F.lit(' xml:lang="'),
                _xml_escape(F.col("obj_lang"), attr=True),
                F.lit('">'),
                text,
                close_tag,
            ),
        )
        .when(
            F.col("obj_dt").isNotNull()
            & ~F.col("obj_dt").isin(_XSD_STRING, _RDF_LANGSTRING),
            F.concat(
                open_tag,
                F.lit(' rdf:datatype="'),
                _xml_escape(F.col("obj_dt"), attr=True),
                F.lit('">'),
                text,
                close_tag,
            ),
        )
        .otherwise(F.concat(open_tag, F.lit(">"), text, close_tag))
    )


def check_serializable(df: DataFrame) -> None:
    """Raise (like Rio) when any predicate has no NCName-shaped suffix
    and therefore cannot be written as a QName. One narrow scan,
    short-circuited by the limit."""
    ns, local = _split_pred()
    bad = (
        df.where((local == "") | (ns == ""))
        .select("pred")
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            "predicate cannot be serialized as an RDF/XML QName: "
            f"<{bad[0].pred}>"
        )


def rdfxml_blocks(df: DataFrame) -> DataFrame:
    """Statement DataFrame → one ``rdf:Description`` block per
    subject (column ``block``). Deterministic: property lists are
    ``array_sort``-ed."""
    grouped = df.groupBy("subj").agg(
        F.array_sort(F.collect_list(_property_xml())).alias("props")
    )
    block = F.concat(
        F.lit('  <rdf:Description rdf:about="'),
        _xml_escape(F.col("subj"), attr=True),
        F.lit('">\n'),
        F.array_join(F.col("props"), "\n"),
        F.lit("\n  </rdf:Description>"),
    )
    return grouped.select(block.alias("block"))


def write_rdfxml(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Serialize to RDF/XML (graph column dropped — the syntax has no
    named graphs). ``single_file=False`` writes one standalone
    document per row in a distributed text directory."""
    check_serializable(df)
    if not single_file:
        doc = F.concat(
            F.lit(_HEADER), F.col("block"), F.lit("\n" + _FOOTER.rstrip("\n"))
        )
        rdfxml_blocks(df).select(doc.alias("value")).write.mode(
            "overwrite"
        ).text(path)
        return
    write_single_file(rdfxml_blocks(df), path, head=_HEADER, tail=_FOOTER)
