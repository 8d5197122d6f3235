"""JSON-LD serializer (r4; completes the A30 format family round-trip
— the Rio ``JSONLDWriter`` analog, public RDF4J behavior;
/root/reference is empty).

Spark-first, mirroring the Turtle writer: the grouping that makes
JSON-LD expanded form — one node object per subject, value arrays per
predicate — is two hash aggregates (``collect_list`` per (subject,
predicate), then per subject), and every piece of JSON text is built
by Catalyst column expressions. String escaping is delegated to
Spark's own Jackson writer (``to_json``), so any literal content
round-trips exactly. No Python runs per row; a 100 TB export is two
exchanges + one codegen projection.

Output shape: each emitted line is ONE self-contained JSON-LD
document (a node object in expanded form — or, with ``quads=True``
and a named graph, an ``{"@id": g, "@graph": [node]}`` wrapper).
``write_jsonld(single_file=True)`` wraps all lines into one JSON
array, which is likewise a valid JSON-LD document; distributed mode
leaves one node-object document per line (each part-file is a stream
of standalone documents — the JSONL convention).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tripleforge.io import _RDF_LANGSTRING, _XSD_STRING, write_single_file
from tripleforge.schema import RDF_TYPE


def _json_str(col: Column) -> Column:
    """A JSON string literal with full Jackson escaping: serialize a
    1-element array and strip the brackets — codegen, handles every
    control character correctly."""
    arr = F.to_json(F.array(col))
    return arr.substr(F.lit(2), F.length(arr) - F.lit(2))


def _value_object() -> Column:
    """One statement object → its expanded-form JSON value: bare string
    for plain xsd:string literals, {"@value","@language"} /
    {"@value","@type"} value objects, {"@id"} node references."""
    return (
        F.when(
            F.col("obj_kind") == "iri",
            F.to_json(F.struct(F.col("obj").alias("@id"))),
        )
        .when(
            F.col("obj_lang").isNotNull(),
            F.to_json(
                F.struct(
                    F.col("obj").alias("@value"),
                    F.col("obj_lang").alias("@language"),
                )
            ),
        )
        .when(
            F.col("obj_dt").isNotNull()
            & ~F.col("obj_dt").isin(_XSD_STRING, _RDF_LANGSTRING),
            F.to_json(
                F.struct(
                    F.col("obj").alias("@value"),
                    F.col("obj_dt").alias("@type"),
                )
            ),
        )
        .otherwise(_json_str(F.col("obj")))
    )


def jsonld_lines(df: DataFrame, quads: bool = False) -> DataFrame:
    """Statement DataFrame → one column ``line``: a standalone JSON-LD
    node-object document per subject (per (graph, subject) with
    ``quads=True``; named-graph subjects get the @graph wrapper).
    Deterministic: value arrays and predicate entries are sorted, so
    the same statements always serialize identically."""
    keys = (["graph"] if quads else []) + ["subj"]
    # rdf:type statements with IRI objects compact to the @type array
    # (expanded form's one keyword property); a literal-typed "type"
    # statement (pathological but expressible) stays a normal entry
    is_type = (F.col("pred") == RDF_TYPE) & (F.col("obj_kind") == "iri")
    pred_key = F.when(is_type, F.lit("@type")).otherwise(F.col("pred"))
    obj_json = F.when(is_type, _json_str(F.col("obj"))).otherwise(_value_object())
    lvl1 = df.groupBy(*keys, pred_key.alias("pk")).agg(
        F.array_sort(F.collect_list(obj_json)).alias("vals")
    )
    entry = F.concat(
        _json_str(F.col("pk")),
        F.lit(": ["),
        F.array_join(F.col("vals"), ", "),
        F.lit("]"),
    )
    lvl2 = lvl1.groupBy(*keys).agg(
        F.array_sort(F.collect_list(entry)).alias("entries")
    )
    node = F.concat(
        F.lit('{"@id": '),
        _json_str(F.col("subj")),
        F.lit(", "),
        F.array_join(F.col("entries"), ", "),
        F.lit("}"),
    )
    if quads:
        node = F.when(
            F.col("graph").isNotNull(),
            F.concat(
                F.lit('{"@id": '),
                _json_str(F.col("graph")),
                F.lit(', "@graph": ['),
                node,
                F.lit("]}"),
            ),
        ).otherwise(node)
    return lvl2.select(node.alias("line"))


def write_jsonld(
    df: DataFrame,
    path: str,
    quads: bool = False,
    single_file: bool = True,
) -> None:
    """Serialize statements to JSON-LD. ``single_file=True`` writes ONE
    document: a JSON array of node objects. ``single_file=False``
    writes a distributed text directory with one standalone node-object
    document per line."""
    if not single_file:
        jsonld_lines(df, quads=quads).write.mode("overwrite").text(path)
        return
    write_single_file(
        jsonld_lines(df, quads=quads), path, head="[\n", tail="\n]\n", sep=",\n"
    )
