"""Fixed, explicit schemas for every table in the engine.

Nothing is inferred at runtime — schema inference at 10^12 rows is slow
and nondeterministic (SURVEY.md §1.3). The input-corpus shape is the
one mandated by BASELINE.json `input_hint`: an Iceberg table of
source-code repositories `(repo, path, commit, lang, content)`.

Reference analog: the RDF4J value model (IRI / BNode / Literal) hosted
in a quad store; re-expressed here as flat columnar DataFrames
(SURVEY.md §1.1-1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Well-known IRIs
# ---------------------------------------------------------------------------
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
XSD_STRING = XSD_NS + "string"
XSD_INTEGER = XSD_NS + "integer"
XSD_DECIMAL = XSD_NS + "decimal"
XSD_DOUBLE = XSD_NS + "double"
XSD_BOOLEAN = XSD_NS + "boolean"
XSD_DATETIME = XSD_NS + "dateTime"
RDF_LANGSTRING = RDF_NS + "langString"
OWL_SAMEAS = OWL_NS + "sameAs"

SKOLEM_PREFIX = "urn:skolem:"
REPO_GRAPH_PREFIX = "urn:repo:"

# ---------------------------------------------------------------------------
# (a) Input corpus table — BASELINE.json input_hint shape, FIXTURES.md §1
# ---------------------------------------------------------------------------
CORPUS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Parser output: raw statements + unioned error channel (SURVEY §2.A4-A8).
# One mapInArrow pass emits both kinds of rows; `error` is null for good
# statement rows and non-null for error rows (then term columns are null).
# bnode terms come out with obj_kind/subj markers and are skolemized in
# canon.py (A10); the parser already emits skolem IRIs because the skolem
# hash needs (repo, path, local-id) which are in scope only at parse time.
# ---------------------------------------------------------------------------
STATEMENT_RAW = StructType(
    [
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj", StringType(), True),
        StructField("obj_kind", StringType(), True),  # 'iri' | 'literal'
        StructField("obj_dt", StringType(), True),
        StructField("obj_lang", StringType(), True),
        StructField("graph", StringType(), True),  # quad-carried graph else null
        StructField("src_repo", StringType(), True),
        StructField("src_path", StringType(), True),
        StructField("src_commit", StringType(), True),
        StructField("parser", StringType(), True),  # nt|nq|ttl|rdfxml
        StructField("error", StringType(), True),  # non-null → error row
    ]
)

# ---------------------------------------------------------------------------
# (b) Statement (quad) table — the materialized KG (SURVEY §1.1.b).
# Triple identity = (subj,pred,obj,obj_kind,obj_dt,obj_lang) within graph.
# ---------------------------------------------------------------------------
STATEMENT = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("obj_kind", StringType(), False),
        StructField("obj_dt", StringType(), True),
        StructField("obj_lang", StringType(), True),
        StructField("graph", StringType(), False),
        StructField("src_repo", StringType(), True),
        StructField("src_path", StringType(), True),
        StructField("src_commit", StringType(), True),
    ]
)

STATEMENT_KEY = ["subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]
STATEMENT_QUAD_KEY = ["graph"] + STATEMENT_KEY

# ---------------------------------------------------------------------------
# Parse-error channel rows, split out of STATEMENT_RAW (A8)
# ---------------------------------------------------------------------------
PARSE_ERROR = StructType(
    [
        StructField("src_repo", StringType(), True),
        StructField("src_path", StringType(), True),
        StructField("src_commit", StringType(), True),
        StructField("parser", StringType(), True),
        StructField("error", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# (c) Lineage / metrics table (SURVEY §1.1.c, A21)
# ---------------------------------------------------------------------------
LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("repo", StringType(), True),
        StructField("commit", StringType(), True),
        StructField("parser", StringType(), True),
        StructField("n_files", LongType(), True),
        StructField("n_triples", LongType(), True),
        StructField("n_errors", LongType(), True),
        StructField("checksum", StringType(), True),
        StructField("committed_at", TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# (d) Equivalence / linking tables (SURVEY §1.1.d, A12-A17)
# ---------------------------------------------------------------------------
CC_MAPPING = StructType(
    [
        StructField("member", StringType(), False),
        StructField("representative", StringType(), False),
    ]
)
