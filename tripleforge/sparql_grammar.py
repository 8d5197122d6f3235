"""SPARQL group-pattern grammar: property paths (§9), WHERE groups
(GRAPH/OPTIONAL/MINUS/EXISTS/FILTER/BIND/VALUES/subqueries), SELECT
projections, and solution modifiers — split out of sparql.py in r4
(VERDICT r3 #6; unchanged public surface via tripleforge.sparql).
"""

from __future__ import annotations

import re

from tripleforge.query import Pattern
from tripleforge.sparql_dataset import _parse_dataset
from tripleforge.sparql_expr import (
    _AGG_FNS,
    _FN_NAMES,
    _parse_constraint,
    _parse_expression,
    _parse_primary,
)
from tripleforge.sparql_lex import SparqlError, _Cursor, _kw, _tokenize

# ---------------------------------------------------------------------------
# Property paths (SPARQL 1.1 §9): predicate-position grammar
#   Path        := PathSeq ('|' PathSeq)*
#   PathSeq     := PathEltOrInv ('/' PathEltOrInv)*
#   PathEltOrInv:= '^' PathElt | PathElt
#   PathElt     := PathPrimary ('+'|'*'|'?')?
#   PathPrimary := '(' Path ')' | '!' PathNegatedPropertySet | iri | 'a'
#   PathNegatedPropertySet := PathOneInPS | '(' (PathOneInPS ('|' PathOneInPS)*)? ')'
#   PathOneInPS := iri | 'a' | '^' (iri | 'a')
# compiled by tripleforge.query.path_pairs (seq → join, alt → union,
# inv → swap, +/*/? → bounded fixpoint iteration, nps → excluded-set
# predicate scan).
# ---------------------------------------------------------------------------
def _nps_member(c: _Cursor, fwd: list, inv: list) -> None:
    sink = fwd
    if c.peek() == ("OP", "^"):
        c.next()
        sink = inv
    term = c.pattern_term("negated property set member")
    if term.startswith("?"):
        raise SparqlError("variables are not allowed inside property paths")
    sink.append(term)


def _path_primary(c: _Cursor) -> tuple:
    t = c.peek()
    if t == ("PUNCT", "("):
        c.next()
        inner = _path_alt(c)
        if c.next() != ("PUNCT", ")"):
            raise SparqlError("unterminated ( path )")
        return inner
    if t == ("OP", "!"):
        c.next()
        fwd: list[str] = []
        inv: list[str] = []
        if c.peek() == ("PUNCT", "("):
            c.next()
            if c.peek() != ("PUNCT", ")"):
                _nps_member(c, fwd, inv)
                while c.peek() == ("OP", "|"):
                    c.next()
                    _nps_member(c, fwd, inv)
            if c.next() != ("PUNCT", ")"):
                raise SparqlError("unterminated !( property set )")
        else:
            _nps_member(c, fwd, inv)
        return ("nps", fwd, inv)
    if t is not None and t[0] == "VAR":
        c.next()
        return ("varleaf", "?" + t[1][1:])
    return ("leaf", c.pattern_term("predicate"))


def _path_elt(c: _Cursor) -> tuple:
    prim = _path_primary(c)
    t = c.peek()
    if t == ("OP", "+"):
        c.next()
        return ("plus", prim)
    if t is not None and t[0] == "STAR":
        c.next()
        return ("star", prim)
    if t is not None and t[0] == "QMARK":
        c.next()
        return ("opt", prim)
    return prim


def _path_elt_or_inverse(c: _Cursor) -> tuple:
    if c.peek() == ("OP", "^"):
        c.next()
        return ("inv", _path_elt(c))
    return _path_elt(c)


def _path_seq(c: _Cursor) -> tuple:
    parts = [_path_elt_or_inverse(c)]
    while c.peek() == ("OP", "/"):
        c.next()
        parts.append(_path_elt_or_inverse(c))
    return parts[0] if len(parts) == 1 else ("seq", parts)


def _path_alt(c: _Cursor) -> tuple:
    arms = [_path_seq(c)]
    while c.peek() == ("OP", "|"):
        c.next()
        arms.append(_path_seq(c))
    return arms[0] if len(arms) == 1 else ("alt", arms)


def _no_nested_var(ast: tuple) -> None:
    if ast[0] == "varleaf":
        raise SparqlError("variables are not allowed inside property paths")
    for a in ast[1:]:
        if isinstance(a, tuple):
            _no_nested_var(a)
        elif isinstance(a, list):
            for x in a:
                _no_nested_var(x)


def _parse_path_expr(c: _Cursor) -> str | tuple:
    """Predicate position: plain term string (IRI or ?var) for trivial
    paths, else a path AST handed to query.path_scan."""
    ast = _path_alt(c)
    if ast[0] in ("leaf", "varleaf"):
        return ast[1]
    _no_nested_var(ast)
    return ast





def _parse_agg_projection(c: _Cursor) -> tuple:
    """'(' AGG '(' [DISTINCT] ?v|* [; SEPARATOR="s"] ')' AS ?alias ')' →
    ("agg", fn, arg ('*' or var name), distinct, alias, separator)."""
    c.next()  # '('
    t = c.next()
    fn = t[1].upper()
    if t[0] != "WORD" or fn not in _AGG_FNS:
        raise SparqlError(f"unsupported aggregate {t[1]!r}")
    if c.next() != ("PUNCT", "("):
        raise SparqlError(f"expected '(' after {fn}")
    distinct = False
    if _kw(c.peek(), "DISTINCT") or _kw(c.peek(), "REDUCED"):
        # REDUCED *permits* duplicate elimination (SPARQL §15.3.2);
        # eliminating is the conforming, deterministic choice here
        c.next()
        distinct = True
    t = c.peek()
    if t is not None and t[0] == "STAR":
        c.next()
        if fn != "COUNT":
            raise SparqlError(f"{fn}(*) is not valid SPARQL")
        arg = "*"
    else:
        # full expression argument (§18.4): SUM(?a * ?b), AVG(YEAR(?t)),
        # … — a plain variable stays a string for back-compat
        tree = _parse_expression(c)
        arg = tree[1] if tree[0] == "var" else tree
    sep = " "
    if c.peek() == ("PUNCT", ";"):
        if fn != "GROUP_CONCAT":
            raise SparqlError("only GROUP_CONCAT takes a SEPARATOR")
        c.next()
        if not _kw(c.next(), "SEPARATOR"):
            raise SparqlError("expected SEPARATOR after ';'")
        if c.next() != ("OP", "="):
            raise SparqlError("expected = after SEPARATOR")
        k, v = c.next()
        if k not in ("DQ", "SQ"):
            raise SparqlError("SEPARATOR must be a string literal")
        sep = v[1:-1]
    if c.next() != ("PUNCT", ")"):
        raise SparqlError(f"unterminated {fn}(...)")
    if not _kw(c.next(), "AS"):
        raise SparqlError("aggregate projection needs AS ?alias")
    t = c.next()
    if t[0] != "VAR":
        raise SparqlError("AS needs a variable alias")
    if c.next() != ("PUNCT", ")"):
        raise SparqlError("unterminated aggregate projection")
    return ("agg", fn, arg, distinct, t[1][1:], sep)


def parse_select(
    text: str,
) -> tuple[list[tuple], list[tuple], dict, bool]:
    """→ (projection items, UNION groups of (patterns, filters),
    modifiers, distinct).

    Projection items are ("var", name) or the aggregate tuple from
    :func:`_parse_agg_projection`; [] means ``*``. Modifiers:
    ``{"group_by": [...], "order_by": [(var, asc)], "offset", "limit"}``.
    """
    c = _Cursor(_tokenize(text))
    c.prologue()
    return _parse_select_cursor(c)


def _parse_select_cursor(c: _Cursor) -> tuple[list[tuple], list[tuple], dict, bool]:
    """Cursor-based SELECT parser — shared by top-level queries and
    ``{ SELECT … }`` subqueries (SPARQL 1.1 §12)."""
    if not _kw(c.peek(), "SELECT"):
        raise SparqlError("only SELECT queries are supported here")
    c.next()
    distinct = False
    if _kw(c.peek(), "DISTINCT") or _kw(c.peek(), "REDUCED"):
        # REDUCED *permits* duplicate elimination (SPARQL §15.3.2);
        # eliminating is the conforming, deterministic choice here
        c.next()
        distinct = True
    projected: list[tuple] = []
    while True:
        t = c.peek()
        if t is None:
            raise SparqlError("unexpected end after SELECT")
        if t[0] == "VAR":
            projected.append(("var", c.next()[1][1:]))
            continue
        if t[0] == "STAR":
            c.next()
            projected = []
            continue
        if t == ("PUNCT", "("):
            # lookahead: aggregate '(COUNT(' vs expression '(expr AS ?v)'
            t1 = c.toks[c.i + 1] if c.i + 1 < len(c.toks) else None
            t2 = c.toks[c.i + 2] if c.i + 2 < len(c.toks) else None
            if (
                t1 is not None
                and t1[0] == "WORD"
                and t1[1].upper() in _AGG_FNS
                and t2 == ("PUNCT", "(")
            ):
                # '(AGG(...) AS ?v)' is the plain aggregate projection;
                # '(AGG(...) op ... AS ?v)' is an expression projection
                # CONTAINING an aggregate (r5i) — try the plain form,
                # fall back to expression parse on mismatch
                mark = c.i
                try:
                    projected.append(_parse_agg_projection(c))
                    continue
                except SparqlError:
                    c.i = mark
            c.next()  # '('
            tree = _parse_expression(c)
            if not _kw(c.next(), "AS"):
                raise SparqlError("expression projection needs AS ?alias")
            k, v = c.next()
            if k != "VAR":
                raise SparqlError("AS needs a variable alias")
            if c.next() != ("PUNCT", ")"):
                raise SparqlError("unterminated expression projection")
            projected.append(("exprproj", v[1:], tree))
            continue
        break
    dataset = _parse_dataset(c)
    groups = _parse_group_pattern(c)
    mods = _parse_modifiers(c)
    mods["dataset"] = dataset
    return projected, groups, mods, distinct



def _parse_group_pattern(c: _Cursor) -> list[tuple[list[Pattern], list[tuple]]]:
    """WHERE { group [UNION { group }]* } where a group is triples,
    ``GRAPH g { … }``, ``OPTIONAL { … }``, ``FILTER constraint``,
    ``BIND(expr AS ?v)``, and ``VALUES ?v { constants }`` — shared by
    SELECT, CONSTRUCT, and ASK; stops after the closing brace (solution
    modifiers are parsed separately). Returns one ``(patterns, ops)``
    group per UNION arm, where ops is the textual-order list of FILTER /
    BIND / VALUES / OPTIONAL / … operations. Every OPTIONAL { … }, at
    group level or nested in a MINUS / EXISTS / OPTIONAL block, is the
    op ``("optional", block, bops)`` of its enclosing group: its
    patterns and its own scoped op list, joined left-outer AS A UNIT
    (exact SPARQL group semantics — VERDICT r2: a 2-triple OPTIONAL
    binds both triples or neither)."""
    if not _kw(c.peek(), "WHERE"):
        raise SparqlError("expected WHERE")
    c.next()
    if c.next() != ("PUNCT", "{"):
        raise SparqlError("expected '{' after WHERE")

    def parse_one_group(
        graph_term: str | None = None,
    ) -> tuple[list[Pattern], list[tuple]]:
        patterns: list[Pattern] = []
        ops: list[tuple] = []
        # blank nodes in patterns are non-distinguished variables
        # (SPARQL §4.1.4): labels map consistently within the group,
        # [] and [ p o ] mint fresh ones
        bnode_state = {"n": 0, "labels": {}}

        def fresh_bnode_var() -> str:
            # single underscore: a "__" name would read as a carry_meta
            # column in bgp and be silently dropped from join keys
            bnode_state["n"] += 1
            return f"?_bn{bnode_state['n']}"

        def label_bnode_var(label: str) -> str:
            if label not in bnode_state["labels"]:
                bnode_state["labels"][label] = fresh_bnode_var()
            return bnode_state["labels"][label]

        def sub_block(
            graph_term: str | None,
            kind: str,
            collect_ops: list[tuple] | None = None,
        ) -> list[Pattern]:
            if c.next() != ("PUNCT", "{"):
                raise SparqlError(f"expected '{{' after {kind}")
            block: list[Pattern] = []
            triples_until_close(graph_term, block, sub=kind, sub_ops=collect_ops)
            if not block and not (
                collect_ops
                and any(o[0] in ("subquery", "union") for o in collect_ops)
            ):
                raise SparqlError(f"empty {kind} block")
            return block

        def parse_bind(sink: list[tuple]) -> None:
            c.next()
            if c.next() != ("PUNCT", "("):
                raise SparqlError("expected '(' after BIND")
            tree = _parse_expression(c)
            if not _kw(c.next(), "AS"):
                raise SparqlError("BIND needs AS ?var")
            k, v = c.next()
            if k != "VAR":
                raise SparqlError("BIND AS needs a variable")
            if c.next() != ("PUNCT", ")"):
                raise SparqlError("unterminated BIND(...)")
            sink.append(("bind", v[1:], tree))

        def triples_until_close(
            graph_term: str | None,
            sink: list[Pattern],
            sub: str | None = None,
            sub_ops: list[tuple] | None = None,
        ) -> None:
            while True:
                t = c.peek()
                if t is None:
                    raise SparqlError("unterminated group pattern")
                if t == ("PUNCT", "}"):
                    c.next()
                    return
                if t == ("PUNCT", "."):
                    c.next()
                    continue
                if t == ("PUNCT", "{"):
                    # subquery: { SELECT … } joins into the group on its
                    # projected variables (SPARQL 1.1 §12) — allowed at
                    # the top level AND (r5) inside MINUS / EXISTS /
                    # OPTIONAL blocks, where it lands on the block's op
                    # list and is evaluated within the sub-group
                    nxt = c.toks[c.i + 1] if c.i + 1 < len(c.toks) else None
                    if not _kw(nxt, "SELECT"):
                        # r5c: a plain nested GroupGraphPattern — one
                        # scoped group, or a {A} UNION {B} … chain.
                        # Each arm parses as a full group of its own
                        # (fresh FILTER/BIND/OPTIONAL scope, fresh
                        # bnode labels per §4.1.4); the chain rides the
                        # enclosing op list as ("union", arms) and is
                        # evaluated in textual position — §18.2's
                        # Join(G, Union(A, B)). The enclosing GRAPH
                        # term carries into every arm.
                        sink_ops = sub_ops if sub_ops is not None else ops
                        c.next()  # '{'
                        arms = [parse_one_group(graph_term)]
                        while _kw(c.peek(), "UNION"):
                            c.next()
                            if c.next() != ("PUNCT", "{"):
                                raise SparqlError("expected '{' after UNION")
                            arms.append(parse_one_group(graph_term))
                        sink_ops.append(("union", arms))
                        continue
                    if sub and sub_ops is None:
                        raise SparqlError(f"subquery inside {sub} is not supported")
                    c.next()  # '{'
                    depth, start = 1, c.i
                    while depth:
                        tk = c.next()
                        if tk == ("PUNCT", "{"):
                            depth += 1
                        elif tk == ("PUNCT", "}"):
                            depth -= 1
                    inner = _Cursor(c.toks[start : c.i - 1])
                    inner.prefixes = dict(c.prefixes)
                    inner.base = c.base
                    sink_ops = sub_ops if sub_ops is not None else ops
                    sink_ops.append(("subquery", _parse_select_cursor(inner)))
                    continue
                if t[0] == "GRAPHKW" or _kw(t, "GRAPH"):
                    c.next()
                    g = c.pattern_term("graph")
                    if c.next() != ("PUNCT", "{"):
                        raise SparqlError("expected '{' after GRAPH label")
                    # r4: GRAPH blocks are allowed inside MINUS/EXISTS/
                    # OPTIONAL too — patterns simply carry the graph
                    # term into the sub-BGP (evaluation is graph-
                    # agnostic; dataset rewrites collect the block's
                    # graph vars for marker exclusion). r5b: GRAPH may
                    # nest inside GRAPH (§18.2.2.1 — each Graph(g, P)
                    # node sets its own graph term; the outer term does
                    # NOT intersect the inner patterns). If the block's
                    # own term governs no triple directly (everything
                    # sits under a deeper GRAPH), §18.3's eval makes the
                    # term range over the dataset's named-graph NAMES —
                    # emitted as a ("graphdom", term) op.
                    sink_ops = sub_ops if sub_ops is not None else ops
                    before, ops_before = len(sink), len(sink_ops)
                    triples_until_close(g, sink, sub=sub, sub_ops=sub_ops)
                    governed = any(p.g == g for p in sink[before:]) or any(
                        # r5c: a union chain inside the GRAPH block —
                        # its arms' patterns carry the term too
                        o[0] == "union"
                        and any(p.g == g for arm in o[1] for p in arm[0])
                        for o in sink_ops[ops_before:]
                    )
                    if not governed:
                        # inserted BEFORE any op textually inside the
                        # block so the domain binds first (a nested
                        # OPTIONAL/MINUS/EXISTS then joins per name,
                        # exactly §18.3's per-name evaluation)
                        sink_ops.insert(ops_before, ("graphdom", g))
                    continue
                if _kw(t, "OPTIONAL"):
                    c.next()
                    bops: list[tuple] = []
                    block = sub_block(graph_term, "OPTIONAL", collect_ops=bops)
                    # FILTER/BIND inside the block stay scoped to the
                    # optional unit (applied BEFORE the left join). The
                    # op lands on the enclosing group's op list (r5b: a
                    # MINUS / EXISTS / OPTIONAL block's too) and
                    # left-joins into that group's solutions.
                    (sub_ops if sub_ops is not None else ops).append(
                        ("optional", block, bops)
                    )
                    continue
                if _kw(t, "SERVICE"):
                    raise SparqlError(
                        "SERVICE (federated query) is not supported — this "
                        "is a single-store engine; materialize the remote "
                        "graph with LOAD first"
                    )
                if _kw(t, "MINUS"):
                    if sub and sub_ops is None:  # pragma: no cover
                        raise SparqlError(f"MINUS inside {sub} is not supported")
                    c.next()
                    bops: list[tuple] = []
                    block = sub_block(graph_term, "MINUS", collect_ops=bops)
                    if graph_term is not None and graph_term.startswith("?"):
                        # §8.3 corner: a graph var INHERITED from an
                        # enclosing GRAPH ?g is not a binding of the
                        # MINUS block's solutions — when it ends up the
                        # only shared variable, the MINUS must be a
                        # no-op (disjoint domains). The pseudo-op rides
                        # the block's op list to the evaluator. (An
                        # explicit same-var GRAPH ?g redeclared inside
                        # the block is treated the same — documented
                        # deviation in that double-corner.)
                        bops.insert(0, ("inherited_g", graph_term[1:]))
                    # r5b: MINUS nests inside MINUS/EXISTS/OPTIONAL —
                    # the op lands on the enclosing block's op list and
                    # anti-joins within the sub-group
                    (sub_ops if sub_ops is not None else ops).append(
                        ("minus", block, bops)
                    )
                    continue
                if _kw(t, "FILTER"):
                    if sub and sub_ops is None:  # pragma: no cover
                        raise SparqlError(f"FILTER inside {sub} is not supported")
                    sink_ops = sub_ops if sub_ops is not None else ops
                    c.next()
                    # FILTER [NOT] EXISTS { … } is a join, not an
                    # expression — dispatched to semi/anti ops (r5b:
                    # inside MINUS/EXISTS/OPTIONAL blocks too)
                    nt = c.peek()
                    if _kw(nt, "EXISTS"):
                        c.next()
                        bops = []
                        block = sub_block(graph_term, "EXISTS", collect_ops=bops)
                        sink_ops.append(("exists", block, True, bops))
                        continue
                    if _kw(nt, "NOT"):
                        c.next()
                        if not _kw(c.next(), "EXISTS"):
                            raise SparqlError("expected EXISTS after NOT")
                        bops = []
                        block = sub_block(
                            graph_term, "NOT EXISTS", collect_ops=bops
                        )
                        sink_ops.append(("exists", block, False, bops))
                        continue
                    sink_ops.append(("expr", _parse_constraint(c)))
                    continue
                if _kw(t, "BIND"):
                    if sub and sub_ops is not None:
                        parse_bind(sub_ops)
                        continue
                    if sub:  # pragma: no cover - sub implies sub_ops
                        raise SparqlError(f"BIND inside {sub} is not supported")
                    parse_bind(ops)
                    continue
                if _kw(t, "VALUES"):
                    if sub and sub_ops is None:
                        raise SparqlError(f"VALUES inside {sub} is not supported")
                    # r5: VALUES inside MINUS/EXISTS/OPTIONAL scopes to
                    # the block (previously it leaked to the outer group)
                    vsink = sub_ops if sub_ops is not None else ops
                    c.next()
                    if c.peek() == ("PUNCT", "("):
                        # multi-variable form: VALUES (?a ?b) { (x y)
                        # (z UNDEF) … } — joined as an inline table
                        c.next()
                        vnames: list[str] = []
                        while c.peek() is not None and c.peek()[0] == "VAR":
                            vnames.append(c.next()[1][1:])
                        if not vnames or c.next() != ("PUNCT", ")"):
                            raise SparqlError("bad VALUES (?var …) header")
                        if c.next() != ("PUNCT", "{"):
                            raise SparqlError("expected '{' after VALUES (…)")
                        rows: list[list[str | None]] = []
                        while c.peek() != ("PUNCT", "}"):
                            if c.peek() is None:
                                raise SparqlError("unterminated VALUES block")
                            if c.next() != ("PUNCT", "("):
                                raise SparqlError("VALUES rows are '(term …)'")
                            row: list[str | None] = []
                            for _ in vnames:
                                if _kw(c.peek(), "UNDEF"):
                                    c.next()
                                    row.append(None)
                                else:
                                    row.append(c.pattern_term("VALUES"))
                            if c.next() != ("PUNCT", ")"):
                                raise SparqlError(
                                    "VALUES row arity does not match header"
                                )
                            rows.append(row)
                        c.next()
                        if not rows:
                            raise SparqlError("empty VALUES block")
                        vsink.append(("values_multi", vnames, rows))
                        continue
                    k, v = c.next()
                    if k != "VAR":
                        raise SparqlError("VALUES needs a variable")
                    var = v[1:]
                    if c.next() != ("PUNCT", "{"):
                        raise SparqlError("expected '{' after VALUES ?var")
                    vals: list[str] = []
                    while c.peek() != ("PUNCT", "}"):
                        if c.peek() is None:
                            raise SparqlError("unterminated VALUES block")
                        if _kw(c.peek(), "UNDEF"):
                            # UNDEF is compatible with every binding —
                            # the constraint vanishes
                            c.next()
                            vals = None
                            break
                        vals.append(c.pattern_term("VALUES"))
                    if vals is None:
                        while c.peek() != ("PUNCT", "}"):
                            if c.peek() is None:
                                raise SparqlError("unterminated VALUES block")
                            c.next()
                    c.next()
                    if vals == []:
                        raise SparqlError("empty VALUES block")
                    if vals is not None:
                        vsink.append(("in", var, vals))
                    continue
                parse_triples_same_subject(graph_term, sink)

        def term_or_bnode(
            position: str, graph_term: str | None, sink: list[Pattern]
        ) -> str:
            t = c.peek()
            if t == ("PUNCT", "["):
                c.next()
                var = fresh_bnode_var()
                if c.peek() == ("PUNCT", "]"):
                    c.next()
                    return var
                parse_predicate_object_list(var, graph_term, sink)
                if c.next() != ("PUNCT", "]"):
                    raise SparqlError("unterminated [ property list ]")
                return var
            if t is not None and t[0] == "BNODE":
                c.next()
                return label_bnode_var(t[1])
            return c.pattern_term(position)

        def parse_predicate_object_list(
            subj: str, graph_term: str | None, sink: list[Pattern]
        ) -> None:
            while True:
                p = _parse_path_expr(c)
                while True:
                    o = term_or_bnode("object", graph_term, sink)
                    sink.append(Pattern(s=subj, p=p, o=o, g=graph_term))
                    if c.peek() == ("PUNCT", ","):
                        c.next()
                        continue
                    break
                if c.peek() == ("PUNCT", ";"):
                    while c.peek() == ("PUNCT", ";"):
                        c.next()
                    nt = c.peek()
                    if nt is None or nt in (
                        ("PUNCT", "."), ("PUNCT", "}"), ("PUNCT", "]"),
                    ):
                        return  # trailing ';'
                    continue
                return

        def parse_triples_same_subject(
            graph_term: str | None, sink: list[Pattern]
        ) -> None:
            s = term_or_bnode("subject", graph_term, sink)
            nt = c.peek()
            if nt in (("PUNCT", "."), ("PUNCT", "}")) or nt is None:
                # bare [ p o ] subject with no further predicates
                return
            parse_predicate_object_list(s, graph_term, sink)

        triples_until_close(graph_term, patterns)
        if not patterns and not any(
            op[0] in ("subquery", "union") for op in ops
        ):
            if {"graphdom", "optional"} <= {op[0] for op in ops}:
                # GRAPH ?g { OPTIONAL { … } } alone: no row for the
                # name domain and the OPTIONAL to extend
                raise SparqlError(
                    "GRAPH term governs no required triple pattern, only "
                    "an OPTIONAL block — not supported"
                )
            raise SparqlError("empty group pattern")
        return patterns, ops

    # UNION chain: WHERE { { A } UNION { B } ... } — else a single group
    # (a '{ SELECT' opener is a subquery, not a UNION arm). r5c: when
    # the chain is NOT the whole WHERE clause (more tokens follow the
    # last arm, e.g. { {A} UNION {B} ?s ?p ?o }), rewind and parse as
    # one group — the nested-group branch inside triples_until_close
    # turns the chain into a ("union", arms) op in textual position.
    nxt = c.toks[c.i + 1] if c.i + 1 < len(c.toks) else None
    if c.peek() == ("PUNCT", "{") and not _kw(nxt, "SELECT"):
        saved = c.i
        groups: list[tuple[list[Pattern], list[tuple]]] = []
        while True:
            c.next()  # inner '{'
            groups.append(parse_one_group())
            if _kw(c.peek(), "UNION"):
                c.next()
                if c.peek() != ("PUNCT", "{"):
                    raise SparqlError("expected '{' after UNION")
                continue
            break
        if c.peek() == ("PUNCT", "}"):
            c.next()
            return groups
        c.i = saved
    return [parse_one_group()]


def _parse_values_clause(c: _Cursor) -> tuple | None:
    """Query-final VALUES (SPARQL §10.2 ValuesClause) → a
    ``("values_multi", vars, rows)`` op joined onto the query's
    solutions before grouping (§18.2.4 algebra order)."""
    if not _kw(c.peek(), "VALUES"):
        return None
    c.next()
    t = c.peek()
    vnames: list[str] = []
    rows: list[list[str | None]] = []
    if t is not None and t[0] == "VAR":
        vnames.append(c.next()[1][1:])
        if c.next() != ("PUNCT", "{"):
            raise SparqlError("expected '{' after VALUES ?var")
        while c.peek() != ("PUNCT", "}"):
            if c.peek() is None:
                raise SparqlError("unterminated VALUES block")
            if _kw(c.peek(), "UNDEF"):
                c.next()
                rows.append([None])
            else:
                rows.append([c.pattern_term("VALUES")])
        c.next()
        return ("values_multi", vnames, rows)
    if t != ("PUNCT", "("):
        raise SparqlError("VALUES needs ?var or (?var …)")
    c.next()
    while c.peek() is not None and c.peek()[0] == "VAR":
        vnames.append(c.next()[1][1:])
    if not vnames or c.next() != ("PUNCT", ")"):
        raise SparqlError("bad VALUES (?var …) header")
    if c.next() != ("PUNCT", "{"):
        raise SparqlError("expected '{' after VALUES (…)")
    while c.peek() != ("PUNCT", "}"):
        if c.peek() is None:
            raise SparqlError("unterminated VALUES block")
        if c.next() != ("PUNCT", "("):
            raise SparqlError("VALUES rows are '(term …)'")
        row: list[str | None] = []
        for _ in vnames:
            if _kw(c.peek(), "UNDEF"):
                c.next()
                row.append(None)
            else:
                row.append(c.pattern_term("VALUES"))
        if c.next() != ("PUNCT", ")"):
            raise SparqlError("unterminated VALUES row")
        rows.append(row)
    c.next()
    return ("values_multi", vnames, rows)


def _parse_modifiers(c: _Cursor) -> dict:
    """Solution modifiers after the group pattern: GROUP BY ?v…,
    ORDER BY [ASC|DESC](?v)…, OFFSET n, LIMIT n, and a trailing
    VALUES clause — consumes to end."""
    mods: dict = {
        "group_by": [], "order_by": [], "offset": None, "limit": None,
        "having": None, "values": None,
    }
    if _kw(c.peek(), "GROUP"):
        c.next()
        if not _kw(c.next(), "BY"):
            raise SparqlError("expected BY after GROUP")
        # GroupCondition (§19.8): Var | '(' Expr ('AS' Var)? ')' |
        # BuiltInCall — expression conditions carry an alias (given or
        # synthesized) that becomes a groupable/projectable column
        while True:
            t = c.peek()
            if t is not None and t[0] == "VAR":
                mods["group_by"].append(c.next()[1][1:])
                continue
            if t == ("PUNCT", "("):
                c.next()
                tree = _parse_expression(c)
                alias = None
                if _kw(c.peek(), "AS"):
                    c.next()
                    k, v = c.next()
                    if k != "VAR":
                        raise SparqlError("GROUP BY ... AS needs a variable")
                    alias = v[1:]
                if c.next() != ("PUNCT", ")"):
                    raise SparqlError("unterminated GROUP BY ( expression )")
                if alias is None:
                    alias = f"__group{len(mods['group_by'])}"
                mods["group_by"].append(("expr", alias, tree))
                continue
            if (
                t is not None
                and t[0] in ("WORD", "KW", "SPARQL_KW", "GRAPHKW")
                and t[1].upper() in _FN_NAMES
            ):
                tree = _parse_primary(c)
                alias = f"__group{len(mods['group_by'])}"
                mods["group_by"].append(("expr", alias, tree))
                continue
            break
        if not mods["group_by"]:
            raise SparqlError("GROUP BY needs at least one condition")
    if _kw(c.peek(), "HAVING"):
        c.next()
        mods["having"] = _parse_constraint(c)
    if _kw(c.peek(), "ORDER"):
        c.next()
        if not _kw(c.next(), "BY"):
            raise SparqlError("expected BY after ORDER")
        while True:
            t = c.peek()
            if t is None:
                break
            if t[0] == "VAR":
                mods["order_by"].append((c.next()[1][1:], True))
                continue
            if _kw(t, "ASC") or _kw(t, "DESC"):
                asc = t[1].upper() == "ASC"
                c.next()
                if c.next() != ("PUNCT", "("):
                    raise SparqlError("expected '(' after ASC/DESC")
                tree = _parse_expression(c)
                if c.next() != ("PUNCT", ")"):
                    raise SparqlError("unterminated ASC/DESC(...)")
                key = tree[1] if tree[0] == "var" else ("expr", tree)
                mods["order_by"].append((key, asc))
                continue
            if t == ("PUNCT", "(") or (
                t[0] in ("WORD", "KW", "SPARQL_KW", "GRAPHKW")
                and t[1].upper() in _FN_NAMES
            ):
                # bare expression sort key: ORDER BY STRLEN(?s), (…)
                mods["order_by"].append((("expr", _parse_constraint(c)), True))
                continue
            break
        if not mods["order_by"]:
            raise SparqlError("ORDER BY needs at least one sort key")
    if _kw(c.peek(), "LIMIT"):  # SPARQL allows LIMIT/OFFSET in either order
        c.next()
        k, v = c.next()
        if k != "INTEGER":
            raise SparqlError("LIMIT needs an integer")
        mods["limit"] = int(v)
    if _kw(c.peek(), "OFFSET"):
        c.next()
        k, v = c.next()
        if k != "INTEGER":
            raise SparqlError("OFFSET needs an integer")
        mods["offset"] = int(v)
    if mods["limit"] is None and _kw(c.peek(), "LIMIT"):
        c.next()
        k, v = c.next()
        if k != "INTEGER":
            raise SparqlError("LIMIT needs an integer")
        mods["limit"] = int(v)
    mods["values"] = _parse_values_clause(c)
    if c.peek() is not None:
        raise SparqlError(f"trailing tokens after query: {c.peek()!r}")
    return mods


