"""SPARQL 1.1 Query Results serializers (VERDICT r2 #7) — the tabular
output formats the reference's ``sparql`` CLI emits for SELECT results:

- **CSV** (W3C SPARQL 1.1 Query Results CSV, text/csv): header row of
  variable names, plain value strings, RFC 4180 quoting — delegated to
  Spark's own CSV writer (identical quoting rules), so the export stays
  distributed.
- **TSV** (W3C ...Results TSV, text/tab-separated-values): header of
  ``?var`` names; each term in SPARQL syntax — ``<iri>``, ``"literal"``
  with ECHAR escapes, bare numeric literals.
- **JSON** (W3C application/sparql-results+json): the
  ``{"head": {"vars": […]}, "results": {"bindings": […]}}`` envelope.
  Driver-side for the (LIMIT-bounded) CLI; :func:`bindings_json_lines`
  is the distributed JSONL variant (one binding object per line) for
  exports too large to collect.

Term typing: a SELECT binding table carries lexical strings without
per-binding term kinds (the engine's statement table knows kinds, but
projection erases them). Serializers classify a value as an IRI when it
matches an absolute-IRI shape (scheme ':' non-space, no angle
brackets) — exact for every IRI this engine can produce (canonicalized
RFC 3986) and misclassifying only literals that themselves look like
absolute IRIs. Numeric columns (BIND/expression projections) serialize
as bare numeric literals per the TSV spec.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

from tripleforge.io import write_single_file

# absolute IRI shape; engine IRIs are RFC-3986-normalized so the scheme
# is already lowercase, but accept uppercase for foreign data
_IRI_SHAPE = r"^[A-Za-z][A-Za-z0-9+.\-]*:[^\s<>\"{}|^`\\]*$"

# default row cap for the DRIVER-SIDE envelope serializers (JSON/XML
# collect their bindings); explicit limit=None opts out
ENVELOPE_ROW_CAP = 100_000


def _escape_literal(col: Column) -> Column:
    out = col
    for raw, esc in (
        ("\\", "\\\\"),
        ('"', '\\"'),
        ("\n", "\\n"),
        ("\r", "\\r"),
        ("\t", "\\t"),
    ):
        out = F.replace(out, F.lit(raw), F.lit(esc))
    return out


def _tsv_term(df: DataFrame, name: str) -> Column:
    """One binding in SPARQL TSV term syntax (null → empty field)."""
    field = df.schema[name].dataType
    col = F.col(name)
    if isinstance(field, NumericType):
        return F.coalesce(col.cast("string"), F.lit(""))
    if not isinstance(field, StringType):
        col = col.cast("string")
    term = F.when(col.rlike(_IRI_SHAPE), F.concat(F.lit("<"), col, F.lit(">"))).otherwise(
        F.concat(F.lit('"'), _escape_literal(col), F.lit('"'))
    )
    return F.coalesce(term, F.lit(""))


def to_tsv_lines(df: DataFrame) -> DataFrame:
    """Bindings → one TSV data line per row (no header; the writer
    prepends it). Distributed — one codegen projection, no UDFs."""
    # concat_ws skips nulls, which would misalign columns — every term
    # expression already coalesces to ''
    return df.select(
        F.concat_ws("\t", *[_tsv_term(df, c) for c in df.columns]).alias("line")
    )


def write_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """W3C SPARQL Results CSV. ``single_file=True`` (CLI default)
    coalesces to one part and collapses to a plain file at ``path``;
    False leaves a distributed Spark CSV directory (header per part)."""
    out = df.select(*[F.col(c).cast("string") for c in df.columns])
    # escape='"' switches Spark's writer from backslash escaping to the
    # RFC 4180 doubled-quote convention the W3C CSV format requires
    opts = {"header": True, "emptyValue": "", "escape": '"'}
    if single_file:
        # Spark's CSV writer emits the header inside the part
        write_single_file(out, path, fmt="csv", **opts)
    else:
        out.write.options(**opts).csv(path)


def write_tsv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """W3C SPARQL Results TSV (header = '?var' names)."""
    header = "\t".join("?" + c for c in df.columns)
    lines = to_tsv_lines(df)
    if single_file:
        write_single_file(lines, path, head=header + "\n")
    else:
        # distributed: prepend the header as its own partition-0 file is
        # not expressible; emit a sidecar header file instead
        lines.write.text(path)
        with open(os.path.join(path, "_header.tsv"), "w") as fh:
            fh.write(header + "\n")


def _binding_struct(df: DataFrame, name: str) -> Column:
    """One W3C JSON binding object {"type": …, "value": …} or null."""
    field = df.schema[name].dataType
    col = F.col(name)
    if isinstance(field, NumericType):
        dt = (
            "http://www.w3.org/2001/XMLSchema#integer"
            if field.simpleString() in ("bigint", "int", "smallint", "tinyint")
            else "http://www.w3.org/2001/XMLSchema#double"
        )
        return F.when(
            col.isNotNull(),
            F.struct(
                F.lit("literal").alias("type"),
                col.cast("string").alias("value"),
                F.lit(dt).alias("datatype"),
            ),
        )
    if not isinstance(field, StringType):
        col = col.cast("string")
    return F.when(
        col.isNotNull(),
        F.struct(
            F.when(col.rlike(_IRI_SHAPE), F.lit("uri"))
            .otherwise(F.lit("literal"))
            .alias("type"),
            col.alias("value"),
        ),
    )


def bindings_json_lines(df: DataFrame) -> DataFrame:
    """Distributed JSONL: each row → one W3C-style binding object
    (null bindings omitted by to_json's ignoreNullFields)."""
    obj = F.struct(*[_binding_struct(df, c).alias(c) for c in df.columns])
    return df.select(F.to_json(obj).alias("line"))


def sparql_results_json(
    df: DataFrame, limit: int | None = ENVELOPE_ROW_CAP
) -> dict:
    """Driver-side W3C application/sparql-results+json document. ASK
    results (single boolean column named ``ask``) get the boolean
    envelope. Collects — capped at ENVELOPE_ROW_CAP rows BY DEFAULT
    (VERDICT r3 #7: a 10⁹-row store must not OOM the driver via
    --format json); pass ``limit=None`` to explicitly opt out, or use
    bindings_json_lines for big exports."""
    cols = df.columns
    if cols == ["ask"]:
        return {"head": {}, "boolean": bool(df.first()["ask"])}
    if limit is not None:
        df = df.limit(limit)
    rows = bindings_json_lines(df).collect()
    return {
        "head": {"vars": cols},
        "results": {"bindings": [json.loads(r["line"]) for r in rows]},
    }


def sparql_results_xml(
    df: DataFrame, limit: int | None = ENVELOPE_ROW_CAP
) -> str:
    """Driver-side W3C SPARQL Query Results XML Format document
    (application/sparql-results+xml). Term classification is shared
    with the JSON serializer (one source of truth: _binding_struct via
    bindings_json_lines), so a value serializes as <uri> in XML exactly
    when it serializes as "type": "uri" in JSON. ASK results (single
    boolean ``ask`` column) emit the <boolean> envelope. Collects —
    CLI-scale only."""
    from xml.sax.saxutils import escape, quoteattr

    ns = "http://www.w3.org/2005/sparql-results#"
    cols = df.columns
    if cols == ["ask"]:
        val = "true" if df.first()["ask"] else "false"
        return (
            '<?xml version="1.0"?>\n'
            f'<sparql xmlns="{ns}"><head/>'
            f"<boolean>{val}</boolean></sparql>\n"
        )
    doc = sparql_results_json(df, limit=limit)
    out = ['<?xml version="1.0"?>', f'<sparql xmlns="{ns}">', "<head>"]
    out += [f"<variable name={quoteattr(v)}/>" for v in cols]
    out += ["</head>", "<results>"]
    for binding in doc["results"]["bindings"]:
        out.append("<result>")
        for var in cols:
            b = binding.get(var)
            if b is None:
                continue
            val = escape(b["value"])
            if b["type"] == "uri":
                term = f"<uri>{val}</uri>"
            elif "datatype" in b:
                term = f"<literal datatype={quoteattr(b['datatype'])}>{val}</literal>"
            elif "xml:lang" in b:
                term = f"<literal xml:lang={quoteattr(b['xml:lang'])}>{val}</literal>"
            else:
                term = f"<literal>{val}</literal>"
            out.append(f"<binding name={quoteattr(var)}>{term}</binding>")
        out.append("</result>")
    out += ["</results>", "</sparql>", ""]
    return "\n".join(out)


def write_results(
    df: DataFrame, path: str, fmt: str, limit: int | None = ENVELOPE_ROW_CAP
) -> None:
    """Dispatch on format: csv | tsv | json (W3C envelope) | jsonl
    (distributed bindings) | xml (W3C XML envelope) | nt/nq
    (statement-shaped CONSTRUCT output, via io.write_ntriples) |
    jsonld-rdf (statement-shaped JSON-LD expanded-form document) |
    trix / rdfxml (statement-shaped XML serializations, r5)."""
    if fmt == "csv":
        write_csv(df, path)
    elif fmt == "tsv":
        write_tsv(df, path)
    elif fmt == "json":
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(sparql_results_json(df, limit=limit), fh, indent=1)
    elif fmt == "xml":
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(sparql_results_xml(df, limit=limit))
    elif fmt == "jsonl":
        bindings_json_lines(df).write.mode("overwrite").text(path)
    elif fmt in ("nt", "nq"):
        from tripleforge.io import write_ntriples

        write_ntriples(df, path, quads=(fmt == "nq"), mode="overwrite")
    elif fmt in ("ttl", "trig"):
        from tripleforge.turtle import write_turtle

        write_turtle(df, path, quads=(fmt == "trig"))
    elif fmt == "jsonld-rdf":
        from tripleforge.jsonld_out import write_jsonld

        write_jsonld(df, path, quads=True)
    elif fmt == "trix":
        from tripleforge.trix_out import write_trix

        write_trix(df, path)
    elif fmt == "rdfxml":
        from tripleforge.rdfxml_out import write_rdfxml

        write_rdfxml(df, path)
    else:
        raise ValueError(f"unknown result format {fmt!r}")
