"""TriX serializer (r5; write-side of the A31 TriX parser — the Rio
``TriXWriter`` analog, public RDF4J behavior; /root/reference is
empty).

Spark-first, mirroring the Turtle/JSON-LD writers: the grouping that
shapes a TriX document — ``<graph>`` elements holding ``<triple>``
children — is two hash aggregates (``collect_list`` per
(graph, subject) bounds block size, then the driver-side header), and
every byte of XML is built by Catalyst column expressions (chained
literal ``replace`` for the five XML escapes). No Python runs per
row; a 100 TB export is one exchange + one codegen projection.

Named graphs: each (graph, subject) group emits its own ``<graph>``
element repeating the graph ``<uri>`` label — the TriX data model
unions repeated graph elements (same convention as the TriG writer's
repeated ``GRAPH`` blocks), so blocks stay bounded regardless of how
many statements share a graph. Default-graph statements (null graph)
emit a label-less ``<graph>``.

``single_file=True`` writes ONE document: XML declaration + ``<TriX>``
root around the blocks. ``single_file=False`` writes a distributed
text directory where each ROW is a complete single-graph TriX document
(the same standalone-document-per-line convention as the JSON-LD
writer's distributed mode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tripleforge.io import _RDF_LANGSTRING, _XSD_STRING, write_single_file

TRIX_NS = "http://www.w3.org/2004/03/trix/trix-1/"
_HEADER = '<?xml version="1.0" encoding="utf-8"?>\n<TriX xmlns="%s">\n' % TRIX_NS
_FOOTER = "</TriX>\n"


def _xml_escape(col: Column, attr: bool = False) -> Column:
    """XML text escaping as codegen ``replace`` chain — ``&`` first so
    the entities it introduces survive; ``"`` only in attribute
    position (values are always double-quoted here)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    if attr:
        out = F.replace(out, F.lit('"'), F.lit("&quot;"))
    return out


def _object_xml() -> Column:
    """One statement object → its TriX term element: ``<uri>`` for
    IRIs, ``<plainLiteral [xml:lang]>`` for string/lang literals,
    ``<typedLiteral datatype="…">`` otherwise."""
    text = _xml_escape(F.col("obj"))
    return (
        F.when(
            F.col("obj_kind") == "iri",
            F.concat(F.lit("<uri>"), text, F.lit("</uri>")),
        )
        .when(
            F.col("obj_lang").isNotNull(),
            F.concat(
                F.lit('<plainLiteral xml:lang="'),
                _xml_escape(F.col("obj_lang"), attr=True),
                F.lit('">'),
                text,
                F.lit("</plainLiteral>"),
            ),
        )
        .when(
            F.col("obj_dt").isNotNull()
            & ~F.col("obj_dt").isin(_XSD_STRING, _RDF_LANGSTRING),
            F.concat(
                F.lit('<typedLiteral datatype="'),
                _xml_escape(F.col("obj_dt"), attr=True),
                F.lit('">'),
                text,
                F.lit("</typedLiteral>"),
            ),
        )
        .otherwise(
            F.concat(F.lit("<plainLiteral>"), text, F.lit("</plainLiteral>"))
        )
    )


def _triple_xml() -> Column:
    """``<triple><uri>s</uri><uri>p</uri>OBJ</triple>`` — subjects and
    predicates are always IRIs in the store (blank nodes were
    skolemized at parse time, parse/common.py)."""
    return F.concat(
        F.lit("    <triple><uri>"),
        _xml_escape(F.col("subj")),
        F.lit("</uri><uri>"),
        _xml_escape(F.col("pred")),
        F.lit("</uri>"),
        _object_xml(),
        F.lit("</triple>"),
    )


def trix_blocks(df: DataFrame) -> DataFrame:
    """Statement DataFrame → one column ``block``: a ``<graph>``
    element per (graph, subject) group. Deterministic: triple lists
    are ``array_sort``-ed, so the same statements always serialize
    identically."""
    grouped = df.groupBy("graph", "subj").agg(
        F.array_sort(F.collect_list(_triple_xml())).alias("triples")
    )
    label = F.when(
        F.col("graph").isNotNull(),
        F.concat(
            F.lit("    <uri>"), _xml_escape(F.col("graph")), F.lit("</uri>\n")
        ),
    ).otherwise(F.lit(""))
    block = F.concat(
        F.lit("  <graph>\n"),
        label,
        F.array_join(F.col("triples"), "\n"),
        F.lit("\n  </graph>"),
    )
    return grouped.select(block.alias("block"))


def write_trix(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Serialize to TriX. ``single_file=True`` → one document at
    ``path``; ``single_file=False`` → a distributed text directory,
    one standalone single-graph TriX document per row."""
    if not single_file:
        doc = F.concat(
            F.lit(_HEADER), F.col("block"), F.lit("\n" + _FOOTER.rstrip("\n"))
        )
        trix_blocks(df).select(doc.alias("value")).write.mode(
            "overwrite"
        ).text(path)
        return
    write_single_file(trix_blocks(df), path, head=_HEADER, tail=_FOOTER)
