"""Triple-pattern / basic-graph-pattern query surface (SURVEY.md §3.2).

The engine's replacement for the reference's SPARQL SELECT path: a
triple pattern ``match(s, p, o, g)`` binds constants to conjunctive
filters over the statement table (pushed into the Parquet/Iceberg scan
by Catalyst); a BGP of k patterns compiles to k-1 self-equi-joins on
shared variables, ordered by a bound-term selectivity heuristic before
Catalyst/AQE take over (join strategy, reordering, broadcast).

Variables are written ``"?name"``; constants are plain strings
(IRIs/literal lexicals).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tripleforge.io import prune_to_graphs


def _is_var(term: str | None) -> bool:
    return isinstance(term, str) and term.startswith("?")


@dataclass(frozen=True)
class Pattern:
    s: str | None = None
    p: str | tuple | None = None  # tuple = property-path AST (path_scan)
    o: str | None = None
    g: str | None = None
    optional: bool = False  # SPARQL OPTIONAL analog → left outer join

    @property
    def bound_count(self) -> int:
        return sum(
            1 for t in (self.s, self.p, self.o, self.g) if t is not None and not _is_var(t)
        )

    @property
    def variables(self) -> frozenset[str]:
        return frozenset(
            t[1:] for t in (self.s, self.p, self.o, self.g) if _is_var(t)
        )


def match(
    statements: DataFrame,
    s: str | None = None,
    p: str | None = None,
    o: str | None = None,
    g: str | None = None,
    carry_meta: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """Single triple-pattern scan. Bound terms become sargable filters
    (column == literal → Parquet predicate pushdown + graph-bucket
    partition pruning when g is bound via the bucketed layout).

    ``carry_meta=True`` additionally projects the object term's
    kind/datatype/language as ``<var>__kind/__dt/__lang`` when the
    object position is a variable — what CONSTRUCT needs to emit
    well-typed statements from variable bindings.

    ``n_buckets`` (pass the CATALOG's bucket count — never guess) turns
    a bound graph into a ``graph_bucket == const`` partition filter on
    the bucketed layout: the scan prunes to 1/n_buckets of a 100 TB
    store (PartitionFilters in the plan)."""
    df = statements
    for col, term in (("subj", s), ("pred", p), ("obj", o), ("graph", g)):
        if term is not None and not _is_var(term):
            df = df.where(F.col(col) == F.lit(term))
            if col == "graph":
                df = prune_to_graphs(df, [term], n_buckets)
    cols = []
    for col, term in (("subj", s), ("pred", p), ("obj", o), ("graph", g)):
        if _is_var(term):
            cols.append(F.col(col).alias(term[1:]))
            if carry_meta and col == "obj":
                v = term[1:]
                cols.append(F.col("obj_kind").alias(f"{v}__kind"))
                cols.append(F.col("obj_dt").alias(f"{v}__dt"))
                cols.append(F.col("obj_lang").alias(f"{v}__lang"))
    return df.select(*cols) if cols else df


# ---------------------------------------------------------------------------
# Property paths (SPARQL 1.1 §9): a path AST in a pattern's predicate
# position compiles to a DataFrame of endpoint pairs. AST nodes:
# ("leaf", iri) ("inv", p) ("seq", [p…]) ("alt", [p…])
# ("plus", p) ("star", p) ("opt", p) ("nps", [fwd iris], [inv iris])
# ---------------------------------------------------------------------------
PATH_MAX_ITER = 25


def _leaf_pairs(
    statements: DataFrame, iri: str, g: str | None,
    carry_meta: bool, n_buckets: int | None,
) -> DataFrame:
    df = statements.where(F.col("pred") == F.lit(iri))
    if g is not None and not _is_var(g):
        df = prune_to_graphs(df.where(F.col("graph") == F.lit(g)), [g], n_buckets)
    cols = [F.col("subj").alias("_ps"), F.col("obj").alias("_po")]
    if _is_var(g):
        # variable GRAPH term (r5): the graph rides as a _pg column so
        # every path operator stays graph-local — joins/closures key on
        # (endpoint, _pg), i.e. the path is evaluated independently per
        # named graph in ONE distributed plan (no per-graph driver loop)
        cols.append(F.col("graph").alias("_pg"))
    if carry_meta:
        cols += [
            F.col("obj_kind").alias("_po__kind"),
            F.col("obj_dt").alias("_po__dt"),
            F.col("obj_lang").alias("_po__lang"),
        ]
    return df.select(*cols)


def _drop_meta(pairs: DataFrame) -> DataFrame:
    meta = [c for c in pairs.columns if c.startswith("_po__")]
    return pairs.drop(*meta) if meta else pairs


_CLOSURE_LINEAR_ROUNDS = 3


def _closure(base: DataFrame, max_iter: int) -> DataFrame:
    """Transitive closure of an edge set (one-or-more path step).

    Hybrid frontier-BFS / path-doubling (r4 — the 25-round linear BFS
    hit its bound on sf0.1's longer chains): the first
    ``_CLOSURE_LINEAR_ROUNDS`` rounds extend the frontier one hop at a
    time (cheapest for the common shallow case — frontier ∘ base is a
    small join), then each round composes the FULL reached set with
    itself, squaring the covered path length — a diameter-d graph
    converges in ~log2(d) rounds, so ``max_iter`` rounds cover
    diameter ≈ 2^(max_iter-2): effectively any real graph, while an
    adversarial non-converging computation still fails loudly. Every
    round localCheckpoints to truncate lineage (same discipline as
    connected components, link.py). A ``_pg`` graph column (variable
    GRAPH term, r5) joins the composition keys, keeping every closure
    step graph-local."""
    base = _drop_meta(base).dropDuplicates().localCheckpoint(eager=True)
    has_g = "_pg" in base.columns
    gcols = ["_pg"] if has_g else []
    hop = base.select(
        F.col("_ps").alias("_hs"), F.col("_po").alias("_ho"),
        *[F.col("_pg").alias("_hg") for _ in gcols],
    ).localCheckpoint(eager=True)
    reached = base
    frontier = base
    for rnd in range(max_iter):
        if rnd < _CLOSURE_LINEAR_ROUNDS:
            cond = frontier["_po"] == hop["_hs"]
            if has_g:
                cond = cond & (frontier["_pg"] == hop["_hg"])
            nxt = (
                frontier.join(hop, cond)
                .select(frontier["_ps"], hop["_ho"].alias("_po"),
                        *[frontier["_pg"] for _ in gcols])
                .dropDuplicates()
            )
        else:
            r2 = reached.select(
                F.col("_ps").alias("_hs"), F.col("_po").alias("_ho"),
                *[F.col("_pg").alias("_hg") for _ in gcols],
            )
            cond = reached["_po"] == r2["_hs"]
            if has_g:
                cond = cond & (reached["_pg"] == r2["_hg"])
            nxt = (
                reached.join(r2, cond)
                .select(reached["_ps"], r2["_ho"].alias("_po"),
                        *[reached["_pg"] for _ in gcols])
                .dropDuplicates()
            )
        new = nxt.join(
            reached, ["_ps", "_po"] + gcols, "left_anti"
        ).localCheckpoint(eager=True)
        if new.isEmpty():
            return reached
        reached = reached.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    raise ValueError(
        f"property-path closure did not converge in {max_iter} iterations"
    )


def _identity_pairs(statements: DataFrame, g: str | None) -> DataFrame:
    """Zero-length path: every term of the (graph-restricted) store
    connected to itself (SPARQL 1.1 §18.4 ZeroLengthPath domain). With
    a variable graph term the domain is per-graph (``_pg`` column)."""
    df = statements
    if g is not None and not _is_var(g):
        df = df.where(F.col("graph") == F.lit(g))
    if _is_var(g):
        nodes = df.select(
            F.col("subj").alias("_n"), F.col("graph").alias("_pg")
        ).unionByName(
            df.select(F.col("obj").alias("_n"), F.col("graph").alias("_pg"))
        ).dropDuplicates()
        return nodes.select(
            F.col("_n").alias("_ps"), F.col("_n").alias("_po"), F.col("_pg")
        )
    nodes = df.select(F.col("subj").alias("_n")).unionByName(
        df.select(F.col("obj").alias("_n"))
    ).dropDuplicates()
    return nodes.select(F.col("_n").alias("_ps"), F.col("_n").alias("_po"))


def path_pairs(
    statements: DataFrame,
    ast: tuple,
    g: str | None = None,
    carry_meta: bool = False,
    n_buckets: int | None = None,
    max_iter: int = PATH_MAX_ITER,
) -> DataFrame:
    """Compile a property-path AST → DataFrame(_ps, _po[, _po__*])
    of endpoint pairs. Sequences join, alternatives union, inverses
    swap, +/*/? iterate to a fixpoint with bounded depth. Object-term
    metadata survives only through plain leaf/sequence tails (closures
    and inverses traverse IRIs)."""
    kind = ast[0]
    if kind == "leaf":
        return _leaf_pairs(statements, ast[1], g, carry_meta, n_buckets)
    if kind == "nps":
        # Negated property set !(p1|^p2|…) — SPARQL 1.1 §9.1: a forward
        # arm over triples whose predicate is outside the forward set,
        # unioned with a swapped arm over triples whose predicate is
        # outside the inverse set. A pure-inverse NPS has no forward
        # arm; !() matches every triple. The exclusion compiles to a
        # pushed-down Not(In(pred, …)) — a plain predicate scan, no
        # joins, no shuffle.
        fwd, inv = ast[1], ast[2]
        df = statements
        gv = _is_var(g)
        if g is not None and not gv:
            df = prune_to_graphs(df.where(F.col("graph") == F.lit(g)), [g], n_buckets)
        gcol = [F.col("graph").alias("_pg")] if gv else []
        arms = []
        if fwd or not inv:
            fdf = df.where(~F.col("pred").isin(fwd)) if fwd else df
            cols = [F.col("subj").alias("_ps"), F.col("obj").alias("_po"), *gcol]
            if carry_meta and not inv:
                cols += [
                    F.col("obj_kind").alias("_po__kind"),
                    F.col("obj_dt").alias("_po__dt"),
                    F.col("obj_lang").alias("_po__lang"),
                ]
            arms.append(fdf.select(*cols))
        if inv:
            idf = df.where(~F.col("pred").isin(inv))
            arms.append(
                idf.select(
                    F.col("obj").alias("_ps"), F.col("subj").alias("_po"), *gcol
                )
            )
        out = arms[0]
        for a in arms[1:]:
            out = out.unionByName(a)
        return out if len(arms) == 1 else out.dropDuplicates()
    if kind == "inv":
        inner = path_pairs(
            statements, ast[1], g=g, carry_meta=False,
            n_buckets=n_buckets, max_iter=max_iter,
        )
        inner = _drop_meta(inner)
        cols = [F.col("_po").alias("_ps"), F.col("_ps").alias("_po")]
        if "_pg" in inner.columns:
            cols.append(F.col("_pg"))
        return inner.select(*cols)
    if kind == "seq":
        parts = ast[1]
        out = path_pairs(
            statements, parts[0], g=g, carry_meta=False,
            n_buckets=n_buckets, max_iter=max_iter,
        )
        for i, part in enumerate(parts[1:]):
            last = i == len(parts) - 2
            rhs = path_pairs(
                statements, part, g=g, carry_meta=carry_meta and last,
                n_buckets=n_buckets, max_iter=max_iter,
            )
            mid = _drop_meta(out).withColumnRenamed("_po", "_mid")
            rhs = rhs.withColumnRenamed("_ps", "_mid")
            keys = ["_mid"]
            if "_pg" in mid.columns and "_pg" in rhs.columns:
                keys.append("_pg")  # steps of one path stay in one graph
            out = mid.join(rhs, keys).drop("_mid")
        return out
    if kind == "alt":
        arms = [
            path_pairs(
                statements, a, g=g, carry_meta=carry_meta,
                n_buckets=n_buckets, max_iter=max_iter,
            )
            for a in ast[1]
        ]
        metas = [any(c.startswith("_po__") for c in a.columns) for a in arms]
        if not all(metas):
            arms = [_drop_meta(a) for a in arms]
        out = arms[0]
        for a in arms[1:]:
            out = out.unionByName(a)
        return out.dropDuplicates()
    if kind in ("plus", "star", "opt"):
        base = path_pairs(
            statements, ast[1], g=g, carry_meta=False,
            n_buckets=n_buckets, max_iter=max_iter,
        )
        base = _drop_meta(base)
        if kind == "opt":
            return base.unionByName(_identity_pairs(statements, g)).dropDuplicates()
        closed = _closure(base, max_iter)
        if kind == "plus":
            return closed
        return closed.unionByName(_identity_pairs(statements, g)).dropDuplicates()
    raise ValueError(f"unknown path node {kind!r}")


def path_scan(
    statements: DataFrame,
    pt: Pattern,
    carry_meta: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """A triple pattern whose predicate is a path AST → variable-named
    scan, shaped exactly like :func:`match` output so the BGP joiner
    treats it uniformly."""
    pairs = path_pairs(
        statements, pt.p, g=pt.g, carry_meta=carry_meta, n_buckets=n_buckets
    )
    # bind/filter the subject end
    if _is_var(pt.s):
        pairs = pairs.withColumnRenamed("_ps", pt.s[1:])
    else:
        pairs = pairs.where(F.col("_ps") == F.lit(pt.s)).drop("_ps")
    # object end (+ meta companions)
    if _is_var(pt.o):
        v = pt.o[1:]
        if v in pairs.columns:  # ?x path ?x — same-endpoint cycle check
            pairs = pairs.where(F.col("_po") == F.col(v)).drop("_po")
            pairs = _drop_meta(pairs)
        else:
            pairs = pairs.withColumnRenamed("_po", v)
            for suffix in ("kind", "dt", "lang"):
                old = f"_po__{suffix}"
                if old in pairs.columns:
                    pairs = pairs.withColumnRenamed(old, f"{v}__{suffix}")
    else:
        pairs = _drop_meta(pairs.where(F.col("_po") == F.lit(pt.o))).drop("_po")
    if _is_var(pt.g):
        gv = pt.g[1:]
        if gv in pairs.columns:  # GRAPH ?g { ?g path ?o } corner
            pairs = pairs.where(F.col("_pg") == F.col(gv)).drop("_pg")
        else:
            pairs = pairs.withColumnRenamed("_pg", gv)
    return pairs


def bgp(
    statements: DataFrame,
    patterns: list[Pattern],
    allow_cartesian: bool = False,
    carry_meta: bool = False,
    n_buckets: int | None = None,
    optional_groups: list | None = None,
) -> DataFrame:
    """Basic graph pattern: join pattern scans on shared variables.

    ``optional_groups`` entries are either a list of Patterns or a
    ``(patterns, transform)`` tuple whose transform (DataFrame →
    DataFrame) applies block-scoped FILTER/BIND before the left join.

    Required patterns are ordered greedily by connectivity: seed with
    the most selective pattern (bound-term count), then repeatedly join
    the most selective REMAINING pattern that shares a variable with the
    result so far — a cheap deterministic heuristic ahead of Catalyst's
    own reordering (ADVICE r2: a pure selectivity sort falsely flagged
    fully-connected chains like ``?a p ?b . ?b q ?c . ?c r <x>`` as
    cross products). OPTIONAL patterns (SPARQL §6) join last as
    left-outer, preserving unmatched rows with null bindings. Joins are
    equi-joins on the shared variable names, so Catalyst picks
    broadcast/SMJ per AQE statistics.

    Patterns sharing no variable with ANY other reachable pattern are
    valid SPARQL (their product), but at statement-table scale an
    accidental cross product is a foot-gun, so it requires
    ``allow_cartesian=True`` (VERDICT r1).
    """
    remaining = sorted(
        range(len(patterns)),
        key=lambda i: -patterns[i].bound_count,
        # stable: ties keep textual order
    )
    remaining = [i for i in remaining if not patterns[i].optional]
    optionals = [pt for pt in patterns if pt.optional]
    result: DataFrame | None = None
    seen_vars: set[str] = set()
    while remaining:
        if result is None:
            idx = remaining.pop(0)
        else:
            # most selective remaining pattern connected to the result
            connected = [i for i in remaining if patterns[i].variables & seen_vars]
            if connected:
                idx = connected[0]
                remaining.remove(idx)
            elif allow_cartesian:
                idx = remaining.pop(0)
            else:
                raise ValueError(
                    f"BGP pattern {patterns[remaining[0]]} shares no variable "
                    "with the patterns joined so far — the result is a cross "
                    "product; pass allow_cartesian=True to run it anyway"
                )
        pt = patterns[idx]
        if isinstance(pt.p, tuple):  # property path in predicate position
            scan = path_scan(
                statements, pt, carry_meta=carry_meta, n_buckets=n_buckets
            )
        else:
            scan = match(
                statements, pt.s, pt.p, pt.o, pt.g,
                carry_meta=carry_meta, n_buckets=n_buckets,
            )
        seen_vars |= pt.variables
        if result is None:
            result = scan
            continue
        # a variable bound in two object positions carries meta twice —
        # the join equality makes the values identical, keep the left's
        dup_meta = [c for c in scan.columns if "__" in c and c in result.columns]
        if dup_meta:
            scan = scan.drop(*dup_meta)
        shared = [c for c in scan.columns if c in result.columns and "__" not in c]
        result = result.join(scan, on=shared, how="inner") if shared else result.crossJoin(scan)
    if result is None:
        result = statements.limit(0)
    # OPTIONAL semantics (SPARQL §6): each block joins left-outer AS A
    # UNIT — a multi-triple block binds all its variables or none
    # (VERDICT r2: independent per-triple left joins could bind one
    # triple's variables when the spec says both-or-neither). Blocks of
    # one pattern (the legacy per-Pattern optional flag) reduce to the
    # old single left join.
    blocks = [[pt] for pt in optionals] + [
        b if isinstance(b, (tuple, DataFrame)) else list(b)
        for b in (optional_groups or [])
    ]
    for block in blocks:
        result = left_join_optional(
            statements, result, block,
            allow_cartesian=allow_cartesian, carry_meta=carry_meta,
            n_buckets=n_buckets,
        )
    return result


def left_join_optional(
    statements: DataFrame,
    result: DataFrame,
    entry,
    allow_cartesian: bool = False,
    carry_meta: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """Left-join ONE optional unit into ``result`` (extracted from
    :func:`bgp` in r5 so the SPARQL layer can apply OPTIONAL blocks
    nested inside MINUS / EXISTS / OPTIONAL via ``_apply_ops``).

    ``entry`` is a pattern list, a pre-evaluated DataFrame, or a tuple
    ``(block, transform[, join_cond])``: the transform (FILTER/BIND
    scoped inside the block — compiled by the SPARQL layer) applies to
    the sub-BGP before the left join; the r4 LeftJoin CONDITION builder
    (SPARQL §18.2.2.3: an OPTIONAL-scoped FILTER referencing left-hand
    variables is part of the join condition, not a pre- or post-filter)
    evaluates per candidate merge."""
    transform = None
    join_cond = None
    block = entry
    if isinstance(block, tuple):
        if len(block) == 3:
            block, transform, join_cond = block
        else:
            block, transform = block
    if isinstance(block, DataFrame):
        # pre-evaluated optional unit (r5: OPTIONAL blocks holding
        # subqueries or nested OPTIONAL/MINUS/EXISTS are compiled to a
        # DataFrame by the SPARQL layer)
        sub = block
    elif len(block) == 1:
        pt = block[0]
        if isinstance(pt.p, tuple):
            sub = path_scan(
                statements, pt, carry_meta=carry_meta, n_buckets=n_buckets
            )
        else:
            sub = match(
                statements, pt.s, pt.p, pt.o, pt.g,
                carry_meta=carry_meta, n_buckets=n_buckets,
            )
    else:
        sub = bgp(
            statements,
            [Pattern(s=pt.s, p=pt.p, o=pt.o, g=pt.g) for pt in block],
            allow_cartesian=allow_cartesian,
            carry_meta=carry_meta,
            n_buckets=n_buckets,
        )
    if transform is not None:
        sub = transform(sub)
    dup_meta = [c for c in sub.columns if "__" in c and c in result.columns]
    if dup_meta:
        sub = sub.drop(*dup_meta)
    shared = [c for c in sub.columns if c in result.columns and "__" not in c]
    if not shared:
        raise ValueError("OPTIONAL block shares no variable with the BGP")
    if join_cond is None:
        return result.join(sub, on=shared, how="left")
    # LeftJoin with a condition over BOTH sides' bindings:
    #   LeftJoin(L, R, F) = {merge(l, r) | r compatible ∧ F holds}
    #                     ∪ {l | no compatible r satisfies F}
    # Implemented with a stable row id on L (materialized via
    # localCheckpoint so the id never recomputes differently): the
    # name-equi left join gives the candidate merges, F filters
    # them, and L rows with NO surviving candidate re-enter with
    # null-extended optional bindings.
    lrow = "__lrow"
    left = result.withColumn(
        lrow, F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    marked = sub.withColumn("__rmatch", F.lit(1))
    j = left.join(marked, on=shared, how="left")
    sat = j.where(F.col("__rmatch").isNotNull() & join_cond(set(j.columns)))
    unmatched = left.join(sat.select(lrow), lrow, "left_anti")
    r_only = [c for c in marked.columns if c not in left.columns and c != "__rmatch"]
    for c in r_only:
        unmatched = unmatched.withColumn(c, F.lit(None).cast("string"))
    return sat.drop("__rmatch").unionByName(unmatched).drop(lrow)
