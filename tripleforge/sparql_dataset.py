"""SPARQL 1.1 dataset clauses (§13.2 FROM / FROM NAMED, §3.1.3 USING
and WITH) — split out of sparql.py in r4 (VERDICT r3 #6). The dataset
view relabels the merged default graph with a reserved marker; the
pattern rewrite keeps GRAPH ?var bindings restricted to named graphs
(incl. vars inherited into MINUS/EXISTS blocks — ADVICE r3).

This module owns the one group-pattern walker, :func:`_map_blocks`:
the dataset rewrite and the update form's ``WITH <g>`` scoping are
each one call of it, so every block kind is reached by both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tripleforge.query import Pattern
from tripleforge.sparql_lex import SparqlError, _Cursor, _kw

# ---------------------------------------------------------------------------
# Dataset clauses (SPARQL 1.1 §13.2): FROM builds the query's default
# graph (merge of the listed graphs), FROM NAMED restricts the named
# graphs visible to GRAPH clauses. Compiled as a "dataset view": the
# default-graph rows are re-labelled with a reserved marker graph and
# unioned with the FROM NAMED subset, then every non-GRAPH pattern is
# rewritten to match only the marker — plain bound-graph scans, no new
# operators. Graph-bucket partition pruning is applied inside the view
# (the marker invalidates per-row bucket values, so the bucket column
# is dropped afterwards).
# ---------------------------------------------------------------------------
_DATASET_DEFAULT_G = "urn:sparql:dataset:default"


def _parse_dataset(c: _Cursor, kw: str = "FROM") -> tuple[list[str], list[str]]:
    """(FROM <g> | FROM NAMED <g>)* → (default graphs, named graphs).
    With ``kw="USING"`` parses the Update-form equivalent (§3.1.3)."""
    default: list[str] = []
    named: list[str] = []
    while _kw(c.peek(), kw):
        c.next()
        if _kw(c.peek(), "NAMED"):
            c.next()
            named.append(c.pattern_term(f"{kw} NAMED"))
        else:
            default.append(c.pattern_term(kw))
    return default, named


def _dataset_view(
    statements: DataFrame,
    default: list[str],
    named: list[str],
    n_buckets: int | None = None,
) -> DataFrame:
    from pyspark.sql import functions as F

    from tripleforge.io import prune_to_graphs

    cols = [col for col in statements.columns if col != "graph_bucket"]

    def restrict(graphs: list[str]) -> DataFrame:
        if not graphs:
            return statements.limit(0)
        return prune_to_graphs(
            statements.where(F.col("graph").isin(graphs)), graphs, n_buckets
        )

    d = restrict(default).withColumn("graph", F.lit(_DATASET_DEFAULT_G))
    return d.select(*cols).unionByName(restrict(named).select(*cols))


def _dataset_pattern(p: Pattern) -> Pattern:
    import dataclasses

    if p.g is None:
        return dataclasses.replace(p, g=_DATASET_DEFAULT_G)
    return p


def _map_blocks(grp: tuple, f) -> tuple:
    """The one group-pattern walker: ``f(patterns, ops) -> (patterns,
    ops)`` applied to every block of a ``(patterns, ops,
    optional_blocks)`` group — the group's own, each group-level
    OPTIONAL, and the blocks of ``minus``/``exists``/``optional`` ops at
    any depth; ``union`` arms and ``subquery`` groups recurse as whole
    groups. WITH <g> and the FROM/USING dataset rewrite are both one
    call of it."""
    patterns, ops, optional_blocks = grp
    patterns, ops = _map_block(patterns, ops, f)
    opts = []
    for entry in optional_blocks:
        block, bops = entry if isinstance(entry, tuple) else (entry, [])
        block, bops = _map_block(block, bops, f)
        # the grammar's entry shape: a bare block unless ops are scoped
        opts.append((block, bops) if bops else block)
    return patterns, ops, opts


def _map_block(patterns: list, ops: list[tuple], f) -> tuple[list, list[tuple]]:
    patterns, ops = f(patterns, ops)
    out = []
    for op in ops:
        if op[0] in ("minus", "optional"):
            block, bops = _map_block(op[1], op[2], f)
            op = (op[0], block, bops)
        elif op[0] == "exists":
            block, bops = _map_block(op[1], op[3], f)
            op = ("exists", block, op[2], bops)
        elif op[0] == "union":
            op = ("union", [_map_blocks(arm, f) for arm in op[1]])
        elif op[0] == "subquery":
            projected, groups, mods, distinct = op[1]
            op = ("subquery", (
                projected, [_map_blocks(g, f) for g in groups], mods, distinct
            ))
        out.append(op)
    return patterns, out


def _dataset_block(patterns: list, ops: list[tuple]) -> tuple[list, list[tuple]]:
    """Non-GRAPH patterns match the reserved default marker; each
    GRAPH ?var of the block gets a marker exclusion in the block's own
    op list — a block-scoped (pre-join / pre-anti-join) filter, so a
    default-graph triple never binds GRAPH ?var (§13.3 restricts it to
    named graphs), never triggers a MINUS removal or satisfies an
    EXISTS, and an unmatched OPTIONAL left row survives null-extended."""
    gvars = sorted({p.g[1:] for p in patterns if p.g and p.g.startswith("?")})
    return (
        [_dataset_pattern(p) for p in patterns],
        ops + [("cmp", v, "!=", _DATASET_DEFAULT_G, False) for v in gvars],
    )


def _apply_dataset(
    statements: DataFrame,
    groups: list[tuple],
    dataset: tuple[list[str], list[str]] | None,
    n_buckets: int | None,
) -> tuple[DataFrame, list[tuple], int | None]:
    """No-op without dataset clauses; else swap in the dataset view and
    the rewritten groups. n_buckets comes back None because the view
    drops the bucket column after pruning inside it."""
    if not dataset or not (dataset[0] or dataset[1]):
        return statements, groups, n_buckets
    view = _dataset_view(statements, dataset[0], dataset[1], n_buckets)
    return view, [_map_blocks(g, _dataset_block) for g in groups], None


