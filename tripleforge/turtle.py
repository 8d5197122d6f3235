"""Turtle / TriG pretty-serializer (A28 ext, r3) — the reference's Rio
writer analog (public RDF4J behavior: grouped subject blocks,
predicate lists, prefix compaction; /root/reference is empty).

Spark-first design: the grouping that makes Turtle "pretty" —
one block per subject, ``;``-separated predicates, ``,``-separated
object lists — is two hash aggregates (``collect_list`` per
(subject, predicate), then per subject), and every string operation
(escaping, prefix compaction, the ``a`` shorthand) is a Catalyst
column expression. No Python runs per row; a 100 TB export is two
exchanges + one codegen projection.

Distributed output stays valid: every part-file is a self-contained
Turtle/TriG document because prefix compaction is only applied when a
header can be guaranteed (single-file mode); distributed mode emits
full IRIs, which need no header. TriG repeats ``GRAPH <g> { … }``
blocks per subject — the TriG grammar unions repeated graph labels.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tripleforge.io import (
    _RDF_LANGSTRING,
    _XSD_STRING,
    _escape_nt_literal,
    write_single_file,
)
from tripleforge.schema import RDF_TYPE

# conservative PN_LOCAL subset: compaction applies only when the local
# name is unambiguously safe (no escaping needed); anything else keeps
# the full <iri> form, which is always valid
_SAFE_LOCAL = "^[A-Za-z0-9_][A-Za-z0-9_\\-]*$"


def _compact_iri(col: Column, prefixes: dict[str, str] | None) -> Column:
    """``<iri>`` or, when a prefix matches and the local part is safe,
    ``pfx:local``."""
    out = F.concat(F.lit("<"), col, F.lit(">"))
    if not prefixes:
        return out
    for pfx, ns in prefixes.items():
        local = F.substr(col, F.lit(len(ns) + 1))
        out = F.when(
            col.startswith(ns) & local.rlike(_SAFE_LOCAL),
            F.concat(F.lit(pfx + ":"), local),
        ).otherwise(out)
    return out


def _obj_term(prefixes: dict[str, str] | None) -> Column:
    return F.when(
        F.col("obj_kind") == "iri", _compact_iri(F.col("obj"), prefixes)
    ).otherwise(
        F.concat(
            F.lit('"'),
            _escape_nt_literal(F.col("obj")),
            F.lit('"'),
            F.when(
                F.col("obj_lang").isNotNull(),
                F.concat(F.lit("@"), F.col("obj_lang")),
            )
            .when(
                F.col("obj_dt").isNotNull()
                & ~F.col("obj_dt").isin(_XSD_STRING, _RDF_LANGSTRING),
                F.concat(F.lit("^^"), _compact_iri(F.col("obj_dt"), prefixes)),
            )
            .otherwise(F.lit("")),
        )
    )


def turtle_blocks(
    df: DataFrame,
    prefixes: dict[str, str] | None = None,
    quads: bool = False,
) -> DataFrame:
    """Statement DataFrame → one column ``block``: a Turtle subject
    block (or a TriG ``GRAPH <g> { … }`` wrapper with ``quads=True``).
    Deterministic: object lists and predicate lists are array_sort'ed,
    so the same statements always serialize identically."""
    keys = (["graph"] if quads else []) + ["subj"]
    pred = F.when(F.col("pred") == RDF_TYPE, F.lit("a")).otherwise(
        _compact_iri(F.col("pred"), prefixes)
    )
    lvl1 = df.groupBy(*keys, "pred").agg(
        F.array_sort(F.collect_list(_obj_term(prefixes))).alias("objs")
    )
    po = F.concat(pred, F.lit(" "), F.array_join(F.col("objs"), ", "))
    lvl2 = lvl1.groupBy(*keys).agg(
        F.array_sort(F.collect_list(po)).alias("pos")
    )
    subj = _compact_iri(F.col("subj"), prefixes)
    block = F.concat(
        subj, F.lit(" "), F.array_join(F.col("pos"), " ;\n    "), F.lit(" .")
    )
    if quads:
        block = F.when(
            F.col("graph").isNotNull(),
            F.concat(
                F.lit("GRAPH "),
                _compact_iri(F.col("graph"), prefixes),
                F.lit(" {\n"),
                block,
                F.lit("\n}"),
            ),
        ).otherwise(block)
    return lvl2.select(block.alias("block"))


def write_turtle(
    df: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    quads: bool = False,
    single_file: bool = True,
) -> None:
    """Serialize to Turtle (or TriG with ``quads=True``).

    ``single_file=True`` writes one document with an ``@prefix`` header
    and compacted names. ``single_file=False`` writes a distributed
    text directory with FULL IRIs (no header needed — each part-file
    stays a valid document); ``prefixes`` is ignored there."""
    if not single_file:
        turtle_blocks(df, prefixes=None, quads=quads).write.mode(
            "overwrite"
        ).text(path)
        return
    head = "".join(f"@prefix {p}: <{ns}> .\n" for p, ns in (prefixes or {}).items())
    blocks = turtle_blocks(df, prefixes=prefixes, quads=quads)
    write_single_file(blocks, path, head=head + "\n" if prefixes else "")
