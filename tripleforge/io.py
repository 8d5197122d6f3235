"""Sources and sinks (SURVEY.md §2.A1, A20, B1-B5).

The corpus is "an Iceberg table of source-code repositories"
(BASELINE.json input_hint). No Iceberg runtime jar exists in the
sandbox, so reads/writes go through the thin ``Catalog`` interface
(tripleforge.catalog): the Parquet-snapshot implementation is used
here; the Iceberg implementation is a config switch on a real cluster.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tripleforge.schema import CORPUS

N_GRAPH_BUCKETS = 64  # A20: bucket graphs to avoid 10^9 tiny partitions


def read_corpus(spark: SparkSession, uri: str) -> DataFrame:
    """A1 — read the repo-file corpus table.

    ``uri`` may be a parquet path (sandbox) or ``iceberg:<table>`` on a
    cluster with the Iceberg catalog configured.
    """
    if uri.startswith("iceberg:"):
        return spark.read.format("iceberg").load(uri[len("iceberg:") :])
    return spark.read.schema(CORPUS).parquet(uri)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """B1 — driver-provided relational fixture table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_files_as_corpus(spark: SparkSession, glob: str, repo: str = "local") -> DataFrame:
    """B3 — raw RDF files on disk → corpus-shaped rows (wholetext scan).

    The reference's CLI loads files straight from the filesystem; this
    is the equivalent entry that wraps them in the corpus schema.
    """
    df = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(glob)
        .withColumn("path", F.input_file_name())
    )
    return df.select(
        F.lit(repo).alias("repo"),
        F.regexp_replace("path", r"^file:/*", "/").alias("path"),
        F.sha2(F.col("value"), 256).substr(1, 40).alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.col("value").alias("content"),
    )


def read_aux(
    spark: SparkSession, path: str, schema: str, fmt: str = "csv", **options
) -> DataFrame:
    """B4 — auxiliary config/fixture scan (CSV/JSON) with an EXPLICIT
    schema — inference at scale is slow and nondeterministic (SURVEY
    §1.3), so none is permitted here."""
    reader = spark.read.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


# ---------------------------------------------------------------------------
# Statement → N-Triples / N-Quads serialization (the reference's
# CONSTRUCT-output analog: RDF4J Rio writers; VERDICT r1 #6). Pure
# Catalyst expressions — escaping and formatting stay JVM-side, so
# serializing a 100 TB statement table is one codegen'd projection.
# ---------------------------------------------------------------------------
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def _escape_nt_literal(col: F.Column) -> F.Column:
    """N-Triples ECHAR escaping (RDF 1.1 N-Triples §2.4): backslash
    first, then quote and the control characters."""
    out = col
    for raw, esc in (
        ("\\", "\\\\"),
        ('"', '\\"'),
        ("\n", "\\n"),
        ("\r", "\\r"),
        ("\t", "\\t"),
        ("\b", "\\b"),
        ("\f", "\\f"),
    ):
        out = F.replace(out, F.lit(raw), F.lit(esc))
    return out


def ntriples_line(quads: bool = False) -> F.Column:
    """One serialized N-Triples (or N-Quads) line per statement row."""
    obj = F.when(
        F.col("obj_kind") == "iri", F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    ).otherwise(
        F.concat(
            F.lit('"'),
            _escape_nt_literal(F.col("obj")),
            F.lit('"'),
            F.when(
                F.col("obj_lang").isNotNull(), F.concat(F.lit("@"), F.col("obj_lang"))
            )
            .when(
                F.col("obj_dt").isNotNull()
                & ~F.col("obj_dt").isin(_XSD_STRING, _RDF_LANGSTRING),
                F.concat(F.lit("^^<"), F.col("obj_dt"), F.lit(">")),
            )
            .otherwise(F.lit("")),
        )
    )
    parts = [
        F.concat(F.lit("<"), F.col("subj"), F.lit(">")),
        F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
        obj,
    ]
    if quads:
        # null graph (default graph) → NULL, which concat_ws skips
        parts.append(
            F.when(
                F.col("graph").isNotNull(),
                F.concat(F.lit("<"), F.col("graph"), F.lit(">")),
            )
        )
    return F.concat_ws(" ", *parts, F.lit(".")).alias("line")


def to_ntriples_lines(df: DataFrame, quads: bool = False) -> DataFrame:
    """Statement DataFrame → single-column (line) DataFrame."""
    return df.select(ntriples_line(quads=quads))


def write_ntriples(
    df: DataFrame, path: str, quads: bool = False, mode: str = "errorifexists"
) -> None:
    """Serialize a statement DataFrame to N-Triples (or N-Quads with
    ``quads=True``) text files — the public CONSTRUCT-result export."""
    to_ntriples_lines(df, quads=quads).write.mode(mode).text(path)


def write_single_file(
    lines: DataFrame,
    path: str,
    head: str = "",
    tail: str = "",
    sep: str | None = None,
    fmt: str = "text",
    **options,
) -> None:
    """The writers' ``single_file=True`` sink: ``lines`` coalesced to
    one part, written by Spark's ``fmt`` writer to a temp dir, then
    assembled into one plain file at ``path`` as head + part + tail.
    With ``sep`` the part's non-empty lines are joined by it instead of
    copied verbatim. CLI scale only — at corpus scale the writers
    export distributed (``single_file=False``)."""
    tmp = path + ".__spark_tmp__"
    lines.coalesce(1).write.mode("overwrite").options(**options).format(fmt).save(tmp)
    with open(path, "w", encoding="utf-8") as out:
        out.write(head)
        first = True
        for part in sorted(glob.glob(os.path.join(tmp, "part-*"))):
            with open(part, encoding="utf-8") as fh:
                if sep is None:
                    shutil.copyfileobj(fh, out)
                    continue
                for line in fh:
                    line = line.rstrip("\n")
                    if line:
                        out.write(line if first else sep + line)
                        first = False
        out.write(tail)
    shutil.rmtree(tmp)


def with_graph_bucket(df: DataFrame, n_buckets: int = N_GRAPH_BUCKETS) -> DataFrame:
    """A20 — stable hash bucket of the graph IRI for partitioned writes.

    Partitioning the physical layout by raw ``graph`` would create one
    directory per named graph (10^9 at target scale); bucketing keeps
    partition-pruned reads for a bound graph while capping layout width.
    """
    return df.withColumn("graph_bucket", _bucket(F.col("graph"), n_buckets))


def _bucket(graph: Column, n_buckets: int) -> Column:
    """The layout hash: the graph-bucket id of ``graph``."""
    return F.pmod(F.xxhash64(graph), F.lit(n_buckets)).cast("int")


def prune_to_graphs(df: DataFrame, graphs: list[str], n_buckets: int | None) -> DataFrame:
    """``df`` filtered to the graph buckets of ``graphs`` — a partition
    filter on the bucketed layout (PartitionFilters in the plan), so the
    scan reads only those buckets' files. Pass the CATALOG's bucket
    count, never a guess: a wrong modulus drops rows. Unchanged without
    ``n_buckets`` (a catalog without the layout declares None); the
    caller still filters on ``graph`` itself (a bucket holds many graphs)."""
    if not n_buckets:
        return df
    cond = None
    for g in graphs:
        term = F.col("graph_bucket") == _bucket(F.lit(g), n_buckets)
        cond = term if cond is None else (cond | term)
    return df.where(cond)

