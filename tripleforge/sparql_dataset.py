"""SPARQL 1.1 dataset clauses (§13.2 FROM / FROM NAMED) — split out of
sparql.py in r4 (VERDICT r3 #6). The dataset view relabels the merged
default graph with a reserved marker; pattern/op rewrites keep GRAPH
?var bindings restricted to named graphs (incl. vars inherited into
MINUS/EXISTS blocks — ADVICE r3).
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


def _dataset_rewrite_group(grp: tuple) -> tuple:
    """Rewrite one UNION arm for dataset-view evaluation: non-GRAPH
    patterns match the reserved default marker; GRAPH ?var patterns
    additionally filter the marker out of the variable's bindings."""
    patterns, ops, optional_blocks = grp

    def rewrite_subquery(parsed: tuple) -> tuple:
        projected, sgroups, smods, sdistinct = parsed
        return (
            projected,
            [_dataset_rewrite_group(g) for g in sgroups],
            smods,
            sdistinct,
        )

    def rewrite_op(op: tuple) -> tuple:
        # graph vars INSIDE a block need the marker exclusion too
        # (ADVICE r3: a default-graph triple must not bind GRAPH ?var
        # and trigger MINUS removal / satisfy EXISTS — §13.3 restricts
        # GRAPH ?var to named graphs); the exclusion list rides as a
        # trailing op element applied to the sub-BGP. r5b: blocks nest
        # (OPTIONAL/MINUS/EXISTS inside each other), so the rewrite
        # recurses through every block-scoped op list.
        def block_gvars(block) -> list[str]:
            return sorted(
                {p.g[1:] for p in block if p.g is not None and p.g.startswith("?")}
            )

        if op[0] == "minus":
            # op shape: ("minus", block, bops[, gexcl])
            bops = rewrite_bops(op[2]) if len(op) > 2 else []
            return ("minus", [_dataset_pattern(p) for p in op[1]], bops,
                    block_gvars(op[1]))
        if op[0] == "exists":
            # op shape: ("exists", block, positive, bops[, gexcl])
            bops = rewrite_bops(op[3]) if len(op) > 3 else []
            return ("exists", [_dataset_pattern(p) for p in op[1]], op[2],
                    bops, block_gvars(op[1]))
        if op[0] == "optional":
            # op shape (r5b, nested only): ("optional", block, bops[, gexcl])
            bops = rewrite_bops(op[2]) if len(op) > 2 else []
            return ("optional", [_dataset_pattern(p) for p in op[1]], bops,
                    block_gvars(op[1]))
        if op[0] == "subquery":
            return ("subquery", rewrite_subquery(op[1]))
        if op[0] == "union":
            # r5c: nested union — each arm is a full group, rewritten
            # exactly like a whole-WHERE union arm (patterns get the
            # marker, GRAPH ?var exclusions land per arm)
            return ("union", [_dataset_rewrite_group(a) for a in op[1]])
        return op

    def rewrite_bops(bops: list[tuple]) -> list[tuple]:
        return [rewrite_op(o) for o in bops]

    new_patterns = [_dataset_pattern(p) for p in patterns]
    new_ops: list[tuple] = [rewrite_op(op) for op in ops]
    new_opts = []
    for entry in optional_blocks:
        block, bops = entry if isinstance(entry, tuple) else (entry, None)
        # graph vars inside the OPTIONAL block get the marker exclusion
        # as a BLOCK-SCOPED (pre-join) filter: it removes only the
        # marker-relabelled default-row CANDIDATES from the sub-BGP, so
        # an unmatched left row still survives null-extended (r4 — this
        # was a loud rejection while the exclusion could only be
        # expressed post-join)
        block_gvars = sorted(
            {p.g[1:] for p in block if p.g is not None and p.g.startswith("?")}
        )
        if bops is not None:
            bops = rewrite_bops(bops)
        if block_gvars:
            bops = list(bops) if bops is not None else []
            for v in block_gvars:
                bops.append(("cmp", v, "!=", _DATASET_DEFAULT_G, False))
        rewritten = [_dataset_pattern(p) for p in block]
        new_opts.append((rewritten, bops) if bops is not None else rewritten)
    gvars = {
        p.g[1:]
        for p in patterns
        if p.g is not None and p.g.startswith("?")
    }
    for v in sorted(gvars):
        new_ops.append(("cmp", v, "!=", _DATASET_DEFAULT_G, False))
    return new_patterns, new_ops, new_opts


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
    return view, [_dataset_rewrite_group(g) for g in groups], None


