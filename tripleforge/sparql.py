"""Minimal SPARQL text front-end (SURVEY.md §3.2 ext; VERDICT r1 #5).

The reference executes SPARQL strings read from files (its ``sparql``
CLI over RDF4J); this module closes that UX gap by parsing the
high-frequency subset onto the engine's existing programmatic surface:

- ``SELECT [DISTINCT] ?v…|*|aggregates|(expr AS ?v) WHERE { triple
  patterns [GRAPH g {…}] [OPTIONAL {…}] [MINUS {…}]
  [FILTER expr | FILTER [NOT] EXISTS {…}] [BIND(expr AS ?v)]
  [VALUES ?v {…}] [{…} UNION {…}] } [GROUP BY] [HAVING(expr)]
  [ORDER BY] [OFFSET] [LIMIT]`` → :func:`tripleforge.query.bgp`
  (each OPTIONAL block left-joins as a UNIT — exact SPARQL group
  semantics; MINUS/NOT EXISTS/EXISTS compile to anti/semi joins;
  UNION arms union with null-padded variables)
- ``CONSTRUCT { template } WHERE { … }`` → typed statement output
- ``ASK { … }`` → one boolean row
- FILTER/BIND expressions (SPARQL 1.1 §17): boolean algebra
  (``&& || !``), comparisons ``= != < > <= >=`` (numeric when either
  side is numeric), arithmetic ``+ - * /``, and the core built-ins —
  ``BOUND isIRI isURI isLiteral isBlank STR LANG LANGMATCHES DATATYPE
  STRLEN UCASE LCASE CONTAINS STRSTARTS STRENDS STRBEFORE STRAFTER
  SUBSTR REPLACE CONCAT ABS CEIL FLOOR ROUND REGEX IF COALESCE`` — all
  compiled onto Catalyst columns (no UDFs); term-metadata functions
  (LANG/DATATYPE/isIRI/…) read the carry_meta companion columns,
  requested automatically
- SPARQL 1.1 Update: ``[WITH <g>] INSERT DATA / DELETE DATA { quads }``
  (TriG-parsed quad blocks), ``DELETE WHERE { patterns }``,
  the Modify form ``[DELETE {tmpl}] [INSERT {tmpl}] WHERE { patterns }``
  (one atomic snapshot, deletes-then-inserts against the pre-update
  store), and ``LOAD <uri> [INTO GRAPH <g>]`` (the reference loader's
  core operation) → :mod:`tripleforge.update` + the build pipeline

The tokenizer extends the Turtle/TriG lexer with SPARQL variables and
bare keywords; quad data inside ``{ }`` is parsed by the TriG parser
itself (same term grammar, same skolemization), so the two front-ends
can never drift apart.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BooleanType, DecimalType, IntegralType, NumericType

from tripleforge.parse.ttl import _TOKEN, _Parser, TurtleError, _term_to_cols
from tripleforge.query import Pattern, bgp, left_join_optional
from tripleforge.schema import RDF_TYPE, XSD_BOOLEAN, XSD_DECIMAL, XSD_DOUBLE, XSD_INTEGER


from tripleforge.sparql_lex import (  # noqa: F401 — re-export
    _SPARQL_TOKEN,
    SparqlError,
    _tokenize,
    _kw,
    _Cursor,
)
from tripleforge.sparql_expr import (  # noqa: F401 — re-export
    _CMP_OPS,
    _META_FNS,
    _XSD,
    _NUMERIC_DTS,
    _FN_NAMES,
    _CAST_NUM_INT,
    _CAST_NUM_REAL,
    _CAST_TYPES,
    _parse_expression,
    _parse_or,
    _parse_and,
    _parse_rel,
    _parse_add,
    _parse_mul,
    _parse_unary,
    _parse_primary,
    _parse_cast,
    _parse_constraint,
    _expr_needs_meta,
    _ops_need_meta,
    _var_col,
    _as_str,
    _as_num,
    _as_bool,
    _compile_expr,
    _reset_query_clock,
    _fn_arity,
    _meta_col,
    _compile_fn,
    _compile_filter,
    _compile_agg,
    _extract_having_aggs,
)
from tripleforge.sparql_dataset import (  # noqa: F401 — re-export
    _DATASET_DEFAULT_G,
    _parse_dataset,
    _dataset_view,
    _dataset_pattern,
    _apply_dataset,
)
from tripleforge.sparql_grammar import (  # noqa: F401 — re-export
    _nps_member,
    _path_primary,
    _path_elt,
    _path_elt_or_inverse,
    _path_seq,
    _path_alt,
    _no_nested_var,
    _parse_path_expr,
    _AGG_FNS,
    _parse_agg_projection,
    parse_select,
    _parse_select_cursor,
    _parse_group_pattern,
    _parse_values_clause,
    _parse_modifiers,
)

def _bind_column(df: DataFrame, var: str, tree: tuple) -> DataFrame:
    """BIND(expr AS ?var) with constructed-literal metadata flow (r4):
    a top-level STRLANG/STRDT also materializes the variable's
    carry_meta companion columns, so downstream LANG() / DATATYPE() /
    isLiteral() see the constructed tag instead of the pre-r4 behavior
    (serialization-only). Nested occurrences (e.g. inside CONCAT) still
    lose their tag — solution columns are lexical by design. Any other
    expression typed ``str`` (CONCAT, STR, …, and IF/COALESCE over
    them) binds a plain literal; an IRI-typed one, a plain variable
    copy or a mix of kinds keeps the default kind."""
    from pyspark.sql import functions as F

    if var in df.columns:
        raise SparqlError(f"BIND target ?{var} is already bound")
    col, typ = _compile_expr(tree, set(df.columns))
    df = df.withColumn(var, col)
    if isinstance(tree, tuple) and tree[0] == "fn" and tree[1] in (
        "STRLANG", "STRDT",
    ):
        from tripleforge.schema import RDF_LANGSTRING

        tagc, tagt = _compile_expr(tree[2][1], set(df.columns))
        tag = _as_str(tagc, tagt)
        if tree[1] == "STRLANG":
            df = df.withColumn(f"{var}__lang", F.lower(tag))
            df = df.withColumn(f"{var}__dt", F.lit(RDF_LANGSTRING))
        else:
            df = df.withColumn(f"{var}__dt", tag)
            df = df.withColumn(f"{var}__lang", F.lit(None).cast("string"))
        df = df.withColumn(f"{var}__kind", F.lit("literal"))
    elif typ == "str":
        none = F.lit(None).cast("string")
        df = df.withColumns(
            {f"{var}__kind": F.lit("literal"), f"{var}__dt": none, f"{var}__lang": none}
        )
    return df


def _apply_ops(
    sol: DataFrame,
    ops: list[tuple],
    statements: DataFrame | None = None,
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
    certain: set[str] | None = None,
    carry_meta: bool = False,
) -> DataFrame:
    """Apply FILTER / BIND / VALUES / OPTIONAL / MINUS / [NOT] EXISTS
    operations in textual order (BIND is positional per SPARQL §10.1:
    later ops see its variable). Each OPTIONAL, MINUS and EXISTS block
    evaluates through :func:`_eval_group`; OPTIONAL left-joins it
    (``carry_meta`` is passed on to its block), MINUS and (NOT) EXISTS
    compile to anti/semi joins on shared variables — the shapes
    Catalyst executes as broadcast/shuffled anti and semi hash joins.

    ``certain`` — variables guaranteed bound (non-null) in every row of
    ``sol`` (the caller's required-BGP vars). Only the ``union`` op
    consults it: when every shared variable is certain on BOTH sides,
    the SPARQL compatibility join is exactly a hash equi-join (the hot
    path); otherwise the general §18.5 unbound-is-compatible condition
    join runs."""
    certain = set(certain) if certain is not None else set()
    for op in ops:
        if sol is None and op[0] not in ("subquery", "union"):
            raise SparqlError(
                "a group with no triple patterns must start with a "
                "{ SELECT … } subquery or a { … } UNION { … } block"
            )
        if op[0] == "bind":
            _, var, tree = op
            sol = _bind_column(sol, var, tree)
        elif op[0] == "subquery":
            if statements is None:
                raise SparqlError("subqueries are not available here")
            sub = _compile_select(
                statements, op[1], allow_cartesian=allow_cartesian,
                n_buckets=n_buckets,
            )
            if sol is None:
                sol = sub
                continue
            shared = [v for v in sub.columns if v in sol.columns]
            if shared:
                sol = sol.join(sub, shared, "inner")
            elif allow_cartesian:
                sol = sol.crossJoin(sub)
            else:
                raise SparqlError(
                    "subquery shares no variable with the group — the "
                    "result is a cross product; pass allow_cartesian=True"
                )
        elif op[0] == "union":
            # r5c: a nested { A } UNION { B } … chain (or a single
            # plain nested group) in textual position — §18.2's
            # Join(G, Union(A, B)). Arms evaluate through the same
            # _solutions machinery as a whole-WHERE union chain.
            if statements is None:
                raise SparqlError("UNION is not available here")
            from pyspark.sql import functions as F

            udf = _solutions(
                statements, op[1], allow_cartesian=allow_cartesian,
                n_buckets=n_buckets,
            )
            arm_certain = _group_certain_vars(op[1][0])
            for arm in op[1][1:]:
                arm_certain &= _group_certain_vars(arm)
            if sol is None:
                sol = udf
                certain |= arm_certain
                continue
            dup_meta = [
                c for c in udf.columns if "__" in c and c in sol.columns
            ]
            if dup_meta:
                udf = udf.drop(*dup_meta)
            shared = [
                v for v in udf.columns if v in sol.columns and "__" not in v
            ]
            new_vars = [
                v for v in udf.columns
                if v not in sol.columns and "__" not in v
            ]
            if not shared:
                if not allow_cartesian:
                    raise SparqlError(
                        "UNION block shares no variable with the group — "
                        "the result is a cross product; pass "
                        "allow_cartesian=True"
                    )
                sol = sol.crossJoin(udf)
            elif all(v in certain and v in arm_certain for v in shared):
                # every shared variable certainly bound on both sides →
                # the compatibility join IS a hash equi-join (hot path)
                sol = sol.join(udf, shared, "inner")
            else:
                # general §18.5 Join: unbound (null) on either side is
                # compatible, the merge takes the bound value. The
                # disjunctive condition plans as a (broadcast) nested-
                # loop join — reserved for the maybe-null shape (a
                # shared var fed by OPTIONAL / BIND / a partial arm).
                renamed = udf
                for v in shared:
                    renamed = renamed.withColumnRenamed(v, f"__u_{v}")
                cond = F.lit(True)
                for v in shared:
                    cond = cond & (
                        F.col(v).isNull()
                        | F.col(f"__u_{v}").isNull()
                        | (F.col(v) == F.col(f"__u_{v}"))
                    )
                sol = sol.join(renamed, cond, "inner")
                for v in shared:
                    sol = sol.withColumn(
                        v, F.coalesce(F.col(v), F.col(f"__u_{v}"))
                    ).drop(f"__u_{v}")
            certain |= {v for v in new_vars if v in arm_certain}
            certain |= {v for v in shared if v in arm_certain}
        elif op[0] == "values_multi":
            # inline table (SPARQL §10.2): tiny literal DataFrame joined
            # broadcast; UNDEF (null) cells are compatible with any
            # binding, so shared-var equality is OR'd with IS NULL
            from pyspark.sql import functions as F
            from pyspark.sql.types import StringType, StructField, StructType

            _, vnames, rows = op
            spark = sol.sparkSession
            vdf = spark.createDataFrame(
                [tuple(r) for r in rows],
                StructType(
                    [StructField(f"__values_{v}", StringType(), True)
                     for v in vnames]
                ),
            ).dropDuplicates()
            shared = [v for v in vnames if v in sol.columns]
            new = [v for v in vnames if v not in sol.columns]
            cond = F.lit(True)
            for v in shared:
                vc = vdf[f"__values_{v}"]
                cond = cond & (vc.isNull() | (sol[v] == vc))
            sol = sol.join(F.broadcast(vdf), cond, "inner")
            for v in new:
                sol = sol.withColumn(v, F.col(f"__values_{v}"))
            sol = sol.drop(*[f"__values_{v}" for v in vnames])
        elif op[0] == "optional":
            # SPARQL §18.2 LeftJoin(sol, block): the block evaluates
            # on its own (strict bottom-up scope), then left-joins into
            # the enclosing group's solutions — a group-level block and
            # one nested in MINUS / EXISTS / OPTIONAL alike
            if statements is None:
                raise SparqlError("OPTIONAL is not available here")
            block_ops, join_cond = _optional_scope(op[1], op[2])
            sub = _eval_group(
                statements, op[1], block_ops, allow_cartesian=allow_cartesian,
                n_buckets=n_buckets, carry_meta=carry_meta or _ops_need_meta(op[2]),
            )
            sol = left_join_optional(sol, sub, join_cond)
        elif op[0] == "graphdom":
            # r5b: a (nested) GRAPH term that governs no required
            # triple directly — §18.3 eval makes it range over the
            # dataset's named-graph NAMES: a variable term joins the
            # distinct name set (restriction when already bound, name
            # domain otherwise); an IRI term gates on that graph's
            # existence. The dataset-view marker never counts as a
            # named graph.
            if statements is None:
                raise SparqlError("GRAPH domains are not available here")
            from pyspark.sql import functions as F

            term = op[1]
            names = (
                statements.select("graph")
                .where(
                    F.col("graph").isNotNull()
                    & (F.col("graph") != _DATASET_DEFAULT_G)
                )
                .distinct()
            )
            if term.startswith("?"):
                v = term[1:]
                names = names.withColumnRenamed("graph", v)
                if v in sol.columns:
                    sol = sol.join(names, v, "left_semi")
                else:
                    sol = sol.crossJoin(names)
            else:
                gate = names.where(F.col("graph") == term).limit(1)
                sol = sol.crossJoin(
                    gate.select(F.lit(1).alias("__g_gate"))
                ).drop("__g_gate")
        elif op[0] in ("minus", "exists"):
            if statements is None:
                raise SparqlError(f"{op[0].upper()} is not available here")
            # op shapes (r5 adds the block-scoped op list ``bops``):
            #   ("minus",  block, bops)
            #   ("exists", block, positive, bops)
            block = op[1]
            bops = op[2] if op[0] == "minus" else op[3]
            # graph vars inherited from an enclosing GRAPH ?g node are
            # per-name restrictions, NOT block bindings (§18.3 attaches
            # the name AFTER the block evaluates) — extracted here so
            # MINUS's disjoint-domain rule ignores them
            inherited = {o[1] for o in bops if o[0] == "inherited_g"}
            bops = [o for o in bops if o[0] != "inherited_g"]
            sub = _eval_group(
                statements, block, bops, allow_cartesian=allow_cartesian,
                n_buckets=n_buckets,
            )
            shared = [
                v for v in sub.columns if v in sol.columns and "__" not in v
            ]
            if op[0] == "minus":
                # SPARQL §8.3: solutions sharing NO variable with the
                # MINUS side are kept (disjoint-domain MINUS is a
                # no-op). Inherited graph vars don't count toward the
                # domain overlap (the name is attached after §18.3
                # eval) but DO stay in the join key as the per-name
                # restriction when a real overlap exists.
                if shared and set(shared) - inherited:
                    sol = sol.join(
                        sub.select(*shared).dropDuplicates(), shared, "left_anti"
                    )
            else:
                positive = op[2]
                if not shared:
                    raise SparqlError(
                        "EXISTS block shares no variable with the group"
                    )
                how = "left_semi" if positive else "left_anti"
                sol = sol.join(sub.select(*shared).dropDuplicates(), shared, how)
        else:
            sol = sol.where(_compile_filter(op, set(sol.columns)))
    return sol



def _subquery_out_vars(parsed: tuple) -> set[str]:
    """The variables a parsed ``{ SELECT … }`` subquery projects —
    what joins (and is visible) in the enclosing group."""
    projected, groups, mods, _distinct = parsed
    if projected:
        out: set[str] = set()
        for it in projected:
            if it[0] == "var":
                out.add(it[1])
            elif it[0] == "agg":
                out.add(it[4])
            elif it[0] == "exprproj":
                out.add(it[1])
        return out
    # SELECT *: every binding of the subquery's WHERE clause
    out = set()
    for grp in groups:
        out |= _group_all_vars(grp)
    out |= {g[1] if isinstance(g, tuple) else g for g in mods["group_by"]}
    return out


def _op_vars(op: tuple) -> set[str]:
    """The variables one group op can bind (possibly unbound in some
    rows): BIND / VALUES targets, subquery projections, nested OPTIONAL
    and UNION blocks, a graphdom name. FILTER, MINUS and EXISTS bind
    none."""
    kind = op[0]
    if kind in ("bind", "in"):
        return {op[1]}
    if kind == "values_multi":
        return set(op[1])
    if kind == "subquery":
        return _subquery_out_vars(op[1])
    if kind == "optional":
        return _group_all_vars(op[1:])
    if kind == "union":
        return set().union(*map(_group_all_vars, op[1]))
    if kind == "graphdom" and op[1].startswith("?"):
        return {op[1][1:]}
    return set()


def _group_all_vars(grp: tuple) -> set[str]:
    """Every variable a ``(patterns, ops)`` group can bind."""
    patterns, ops = grp
    out = {v for pt in patterns for v in pt.variables}
    for op in ops:
        out |= _op_vars(op)
    return out


def _group_certain_vars(grp: tuple) -> set[str]:
    """Variables bound (non-null) in EVERY solution of the group:
    required-BGP vars, graphdom names, and union vars certain in every
    arm. BIND / VALUES / OPTIONAL / subquery products may be null →
    excluded (conservative — certainty only picks equi- vs general
    compatibility join in :func:`_apply_ops`'s union op)."""
    patterns, ops = grp
    out: set[str] = set()
    for pt in patterns:
        out |= pt.variables
    for op in ops:
        if op[0] == "graphdom" and op[1].startswith("?"):
            out.add(op[1][1:])
        elif op[0] == "union":
            certain = _group_certain_vars(op[1][0])
            for arm in op[1][1:]:
                certain &= _group_certain_vars(arm)
            out |= certain
    return out


def _substitute_unbound(tree, local: set[str]):
    """Strict bottom-up OPTIONAL scope for BIND (§18.2.2.6: the group
    translates to Extend over the BLOCK's solutions, so variables bound
    only on the left of the LeftJoin are unbound inside the expression;
    an erroring Extend leaves the target unbound but keeps the row).
    Compiled by substituting outer-only variable references with a null
    term — Catalyst's null propagation matches SPARQL's error→unbound
    for the value-level builtins; BOUND(outer) folds to false."""
    if not isinstance(tree, tuple):
        return tree
    if tree[0] == "var":
        return tree if tree[1] in local else ("unbound",)
    if tree[0] == "fn" and tree[2] and isinstance(tree[2], list):
        args = tree[2]
        if (
            args
            and isinstance(args[0], tuple)
            and args[0][0] == "var"
            and args[0][1] not in local
        ):
            if tree[1] == "BOUND":
                return ("boollit", False)
            if tree[1] in ("LANG", "DATATYPE", "ISIRI", "ISURI",
                           "ISLITERAL", "ISBLANK"):
                # term-metadata of an unbound variable is an ERROR →
                # the extended variable stays unbound (null)
                return ("unbound",)
    out = [tree[0]]
    for a in tree[1:]:
        if isinstance(a, tuple):
            out.append(_substitute_unbound(a, local))
        elif isinstance(a, list):
            out.append([_substitute_unbound(x, local) for x in a])
        else:
            out.append(a)
    return tuple(out)


def _optional_scope(
    block: list[Pattern], bops: list[tuple]
) -> tuple[list[tuple], Callable | None]:
    """An OPTIONAL block's ops → ``(block_ops, join_cond)``. A FILTER
    over block-local variables stays in ``block_ops`` (applied to the
    block BEFORE the left join, where it can only drop optional rows);
    one that also references LEFT-hand variables is part of the
    LeftJoin CONDITION (§18.2.2.3), evaluated per candidate merge with
    a failing left row kept null-extended. A BIND referencing outer
    variables evaluates with strict bottom-up scope (outer refs
    unbound — see :func:`_substitute_unbound`). "Local" grows in
    evaluation order with each op's bindings."""
    local = {v for pt in block for v in pt.variables}
    block_ops: list[tuple] = []
    deferred: list[tuple] = []
    for op in _placed(bops):
        if op[0] == "expr" and not _expr_vars(op[1]) <= local:
            deferred.append(op)
            continue
        if op[0] == "bind" and not _expr_vars(op[2]) <= local:
            op = ("bind", op[1], _substitute_unbound(op[2], local))
        block_ops.append(op)
        local |= _op_vars(op)
    if not deferred:
        return block_ops, None

    def join_cond(bound: set[str]):
        col = _compile_filter(deferred[0], bound)
        for op in deferred[1:]:
            col = col & _compile_filter(op, bound)
        return col

    return block_ops, join_cond


def _placed(ops: list[tuple]) -> list[tuple]:
    """A group's ops in evaluation order, the one OPTIONAL placement
    rule: an OPTIONAL left-joins at its textual position — after the
    BGP and the BIND, VALUES, subquery, UNION, MINUS and GRAPH-domain
    ops written before it (§18.2.2.6) — but ahead of the FILTERs
    written before it, since a FILTER constrains its whole group."""
    out: list[tuple] = []
    for op in ops:
        at = len(out)
        if op[0] == "optional":
            while at and out[at - 1][0] in ("expr", "cmp", "exists"):
                at -= 1
        out.insert(at, op)
    return out


def _eval_group(
    statements: DataFrame,
    block: list[Pattern],
    ops: list[tuple],
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
    carry_meta: bool = False,
) -> DataFrame:
    """The one (sub-)group evaluator: :func:`bgp` over the block's
    patterns, then :func:`_apply_ops` over its ops in :func:`_placed`
    order. A block with no pattern seeds from its first op (a subquery
    or a UNION chain)."""
    meta = carry_meta or _ops_need_meta(ops)
    sol = bgp(
        statements, block, allow_cartesian=allow_cartesian,
        carry_meta=meta, n_buckets=n_buckets,
    ) if block else None
    return _apply_ops(
        sol, _placed(ops), statements=statements,
        allow_cartesian=allow_cartesian, n_buckets=n_buckets,
        certain={v for pt in block for v in pt.variables}, carry_meta=meta,
    )


def _solutions(
    statements: DataFrame,
    groups: list[tuple],
    allow_cartesian: bool = False,
    carry_meta: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """Union of per-group solutions, each from :func:`_eval_group`
    (SPARQL UNION: variables unbound in one arm come back null via
    allowMissingColumns). Object-term metadata columns are carried
    automatically whenever a group's expressions need them
    (LANG/DATATYPE/isIRI/…)."""
    sols = [
        _eval_group(
            statements, patterns, ops, allow_cartesian=allow_cartesian,
            n_buckets=n_buckets, carry_meta=carry_meta,
        )
        for patterns, ops in groups
    ]
    out = sols[0]
    for sol in sols[1:]:
        out = out.unionByName(sol, allowMissingColumns=True)
    return out



def select(
    statements: DataFrame,
    text: str,
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """Execute a SPARQL SELECT string against a statement DataFrame.

    Supports projection of variables and aggregates
    ``(COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT(...) AS ?alias)`` with
    GROUP BY / HAVING, plus ORDER BY / OFFSET / LIMIT solution
    modifiers. Numeric aggregates cast the bound lexical to double
    (SPARQL numeric semantics over this engine's string-lexical object
    column)."""
    _reset_query_clock()
    parsed = parse_select(text)
    return _compile_select(
        statements, parsed, allow_cartesian=allow_cartesian, n_buckets=n_buckets
    )


def _expr_vars(tree) -> set[str]:
    """All ?var names referenced by an expression AST."""
    out: set[str] = set()
    if isinstance(tree, tuple):
        if tree[0] == "var":
            out.add(tree[1])
        else:
            for a in tree[1:]:
                if isinstance(a, tuple):
                    out |= _expr_vars(a)
                elif isinstance(a, list):
                    for x in a:
                        out |= _expr_vars(x)
    return out


def _compile_select(
    statements: DataFrame,
    parsed: tuple,
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    projected, groups, mods, distinct = parsed
    statements, groups, n_buckets = _apply_dataset(
        statements, groups, mods.get("dataset"), n_buckets
    )
    exprprojs = [it for it in projected if it[0] == "exprproj"]
    group_exprs = [g for g in mods["group_by"] if isinstance(g, tuple)]
    out = _solutions(
        statements, groups, allow_cartesian=allow_cartesian, n_buckets=n_buckets,
        carry_meta=any(
            _expr_needs_meta(t)
            for t in (
                [it[2] for it in exprprojs] + [g[2] for g in group_exprs]
            )
        ),
    )
    if mods.get("values") is not None:
        # query-final VALUES joins before grouping (§18.2.4 order)
        out = _apply_ops(out, [mods["values"]])
    bound = set(out.columns)
    aggs = [it for it in projected if it[0] == "agg"]
    plain = [it[1] for it in projected if it[0] == "var"]
    group_aliases = {
        g[1] for g in mods["group_by"] if isinstance(g, tuple)
    }
    missing = [v for v in plain if v not in bound and v not in group_aliases] + [
        it[2]
        for it in aggs
        if isinstance(it[2], str) and it[2] != "*" and it[2] not in bound
    ]
    if missing:
        raise SparqlError(f"projected variables not bound: {missing}")
    if mods["having"] is not None and not (aggs or mods["group_by"]):
        raise SparqlError("HAVING requires GROUP BY / aggregates")
    drop_after_order: list[str] = []
    def _has_aggfn(tree) -> bool:
        if not isinstance(tree, tuple):
            return False
        if tree[0] == "aggfn":
            return True
        return any(
            _has_aggfn(x)
            for a in tree[1:]
            for x in (a if isinstance(a, list) else [a])
        )

    # an expression projection CONTAINING an aggregate call makes the
    # query an (implicitly grouped) aggregate query too (r5i)
    if aggs or mods["group_by"] or any(_has_aggfn(it[2]) for it in exprprojs):
        # expression group conditions materialize as alias columns
        # ahead of the aggregate (SPARQL §19.8 GroupCondition)
        group: list[str] = []
        for gitem in mods["group_by"]:
            if isinstance(gitem, tuple):
                _, alias, tree = gitem
                col, _ = _compile_expr(tree, set(out.columns))
                out = out.withColumn(alias, col)
                group.append(alias)
            else:
                group.append(gitem)
        stray = [v for v in plain if v not in group]
        if stray:
            raise SparqlError(
                f"non-aggregate projection {stray} must appear in GROUP BY"
            )
        bad_group = [v for v in group if v not in set(out.columns)]
        if bad_group:
            raise SparqlError(f"GROUP BY variables not bound: {bad_group}")
        pre_bound = set(out.columns)
        htree = mods["having"]
        extra_aggs: list[tuple] = []
        if htree is not None:
            # direct aggregate calls in HAVING become synthesized
            # aggregate columns, dropped by the final projection
            htree = _extract_having_aggs(htree, extra_aggs)
        # same rewrite for aggregate calls in ORDER BY expression keys
        new_ob = []
        for key, asc_ in mods["order_by"]:
            if isinstance(key, tuple) and key[0] == "expr":
                key = ("expr", _extract_having_aggs(key[1], extra_aggs))
            new_ob.append((key, asc_))
        mods["order_by"] = new_ob
        # SELECT expressions over groups (r5i, §18.2.4.2): aggregate
        # calls inside the expression become synthesized aggregate
        # columns exactly like HAVING's; the residual expression is
        # evaluated over the grouped result below
        grouped_exprprojs = [
            (it[1], _extract_having_aggs(it[2], extra_aggs)) for it in exprprojs
        ]
        agg_exprs = [_compile_agg(it, pre_bound) for it in aggs] + [
            _compile_agg(it, pre_bound) for it in extra_aggs
        ]
        if not agg_exprs:
            if not group:
                raise SparqlError("GROUP BY without any aggregate projection")
            # grouping with no aggregate anywhere (SELECT expressions
            # over keys only) = one row per group
            out = out.select(*group).dropDuplicates()
        else:
            out = out.groupBy(*group).agg(*agg_exprs) if group else out.agg(*agg_exprs)
        avail = set(group) | {it[4] for it in aggs} | {a[4] for a in extra_aggs}
        for alias, tree in grouped_exprprojs:
            if alias in avail:
                raise SparqlError(f"projection alias ?{alias} is already bound")
            bad = _expr_vars(tree) - avail
            if bad:
                raise SparqlError(
                    "SELECT expression over a grouped query may only "
                    f"reference GROUP BY keys, aggregates, or earlier "
                    f"aliases — not ?{sorted(bad)[0]}"
                )
            col, _ = _compile_expr(tree, set(out.columns))
            out = out.withColumn(alias, col)
            avail.add(alias)
        if htree is not None:
            # HAVING sees the aggregate aliases as bound variables
            col, typ = _compile_expr(htree, set(out.columns))
            out = out.where(_as_bool(col, typ))
        # project in the user's order, carrying synthesized sort-key
        # aggregates through to ORDER BY (dropped after sorting)
        names = [
            it[4] if it[0] == "agg" else it[1] for it in projected
        ]
        drop_after_order.extend(a[4] for a in extra_aggs)
        out = out.select(*names, *drop_after_order)
    elif projected:
        for it in exprprojs:
            _, alias, tree = it
            if alias in out.columns:
                raise SparqlError(f"projection alias ?{alias} is already bound")
            col, _ = _compile_expr(tree, set(out.columns))
            out = out.withColumn(alias, col)
        # ORDER BY precedes projection in the SPARQL algebra (§18.2.5),
        # so sort keys may reference variables the projection drops —
        # carry them through the select and drop after sorting
        proj_names = [it[1] for it in projected]
        carry = []
        for key, _asc in mods["order_by"]:
            vars_ = [key] if isinstance(key, str) else sorted(_expr_vars(key[1]))
            carry.extend(
                v for v in vars_
                if v in out.columns and v not in proj_names and v not in carry
            )
        drop_after_order.extend(carry)
        out = out.select(*proj_names, *carry)
    else:
        # SELECT *: project every binding, never the carry_meta
        # companion columns nor non-distinguished blank-node variables
        out = out.select(
            *[c for c in out.columns
              if not c.endswith(("__kind", "__dt", "__lang"))
              and not re.fullmatch(r"_bn\d+", c)]
        )
    if distinct:
        # key on the USER-projected columns only: synthesized ORDER
        # BY/HAVING aggregate carriers (__haggN) must not stop a
        # spec-conforming SELECT DISTINCT from collapsing rows whose
        # projection omits some GROUP BY keys (ADVICE r3)
        user_cols = [c for c in out.columns if c not in drop_after_order]
        out = out.dropDuplicates(user_cols)
    if mods["order_by"]:
        from pyspark.sql import functions as F

        cols = set(out.columns)
        bad = [
            v for v, _ in mods["order_by"]
            if isinstance(v, str) and v not in cols
        ]
        if bad:
            raise SparqlError(f"ORDER BY variables not bound: {bad}")
        keys = []
        for v, asc_ in mods["order_by"]:
            col = (
                F.col(v) if isinstance(v, str)
                else _compile_expr(v[1], cols)[0]
            )
            keys.append(col.asc() if asc_ else col.desc())
        out = out.orderBy(*keys)
    if drop_after_order:
        out = out.drop(*drop_after_order)
    if mods["offset"]:
        out = out.offset(mods["offset"])
    if mods["limit"] is not None:
        out = out.limit(mods["limit"])
    return out


def ask(
    statements: DataFrame,
    text: str,
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """SPARQL ASK: one boolean row (column ``ask``)."""
    from pyspark.sql import functions as F

    _reset_query_clock()

    c = _Cursor(_tokenize(text))
    c.prologue()
    if not _kw(c.peek(), "ASK"):
        raise SparqlError("expected ASK")
    c.next()
    dataset = _parse_dataset(c)
    # ASK's group pattern is WHERE-optional in SPARQL; accept both
    if not _kw(c.peek(), "WHERE"):
        c.toks.insert(c.i, ("WORD", "WHERE"))
    groups = _parse_group_pattern(c)
    _parse_modifiers(c)  # tolerate (and ignore) trailing modifiers
    statements, groups, n_buckets = _apply_dataset(
        statements, groups, dataset, n_buckets
    )
    sol = _solutions(
        statements, groups, allow_cartesian=allow_cartesian, n_buckets=n_buckets
    )
    return sol.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))


def describe(
    statements: DataFrame,
    text: str,
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """SPARQL DESCRIBE (§16.4): every statement whose subject — or IRI
    object — is one of the described resources, as a statement-shaped
    DataFrame. Resources come from explicit IRIs and/or the bindings of
    DESCRIBE'd variables in the WHERE clause (RDF4J's default
    subject+object description, the reference's behavior). The resource
    set is a small DataFrame broadcast into two semi-joins — the store
    is scanned, never collected."""
    from pyspark.sql import functions as F

    _reset_query_clock()
    c = _Cursor(_tokenize(text))
    c.prologue()
    if not _kw(c.peek(), "DESCRIBE"):
        raise SparqlError("expected DESCRIBE")
    c.next()
    iris: list[str] = []
    dvars: list[str] = []
    star = False
    while True:
        t = c.peek()
        if t is None or _kw(t, "WHERE"):
            break
        if t[0] == "VAR":
            dvars.append(c.next()[1][1:])
            continue
        if t[0] == "STAR":
            # DESCRIBE * (§16.4 grammar): all in-scope variables of the
            # WHERE clause — resolved after the solutions are computed
            c.next()
            star = True
            continue
        if _kw(t, "FROM"):
            break  # DatasetClause* follows the term list (§16.4 grammar)
        term = c.pattern_term("DESCRIBE")
        iris.append(term)
    if not iris and not dvars and not star:
        raise SparqlError("DESCRIBE needs at least one IRI, variable, or *")
    dataset = _parse_dataset(c)
    # dataset clauses (r4): WHERE evaluates against the dataset view
    # (marker default-graph semantics, like SELECT); the DESCRIPTION
    # scans the store restricted to the dataset's graphs, preserving
    # each statement's original graph label in the output
    desc_store = statements
    if dataset and (dataset[0] or dataset[1]):
        from pyspark.sql import functions as _F

        desc_store = statements.where(
            _F.col("graph").isin(sorted(set(dataset[0]) | set(dataset[1])))
        )
    spark = statements.sparkSession
    parts: list[DataFrame] = []
    if iris:
        parts.append(spark.createDataFrame([(i,) for i in iris], "r string"))
    if dvars or star:
        if c.peek() is None:
            raise SparqlError(
                "DESCRIBE * needs a WHERE clause" if star
                else "DESCRIBE ?var needs a WHERE clause"
            )
        groups = _parse_group_pattern(c)
        _parse_modifiers(c)
        wstore, wgroups, wnb = _apply_dataset(
            statements, groups, dataset, n_buckets
        )
        sol = _solutions(
            wstore, wgroups, allow_cartesian=allow_cartesian,
            n_buckets=wnb,
        )
        if star:
            # same visibility rule as SELECT *: user variables only,
            # never carry_meta companions or non-distinguished bnodes
            dvars = sorted(
                set(dvars)
                | {
                    col for col in sol.columns
                    if not col.endswith(("__kind", "__dt", "__lang"))
                    and not re.fullmatch(r"_bn\d+", col)
                }
            )
        missing = [v for v in dvars if v not in sol.columns]
        if missing:
            raise SparqlError(f"DESCRIBE variables not bound: {missing}")
        for v in dvars:
            parts.append(sol.select(F.col(v).alias("r")))
    elif c.peek() is not None:
        raise SparqlError(f"trailing tokens after DESCRIBE: {c.peek()!r}")
    resources = parts[0]
    for p in parts[1:]:
        resources = resources.unionByName(p)
    resources = resources.where(F.col("r").isNotNull()).dropDuplicates()
    cols = [
        f for f in ("subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang", "graph")
        if f in desc_store.columns
    ]
    by_subj = desc_store.join(
        F.broadcast(resources), desc_store["subj"] == resources["r"], "left_semi"
    )
    by_obj = desc_store.where(F.col("obj_kind") == "iri").join(
        F.broadcast(resources), desc_store["obj"] == resources["r"], "left_semi"
    )
    return by_subj.select(*cols).unionByName(by_obj.select(*cols)).dropDuplicates()


def query(
    statements: DataFrame,
    text: str,
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """Dispatch a SPARQL query string: SELECT → bindings table,
    CONSTRUCT/DESCRIBE → statement-shaped DataFrame, ASK → boolean.
    Pass the catalog's ``n_buckets`` so bound-graph patterns
    partition-prune."""
    c = _Cursor(_tokenize(text))
    c.prologue()
    if _kw(c.peek(), "SELECT"):
        return select(statements, text, allow_cartesian=allow_cartesian, n_buckets=n_buckets)
    if _kw(c.peek(), "CONSTRUCT"):
        return construct(statements, text, allow_cartesian=allow_cartesian, n_buckets=n_buckets)
    if _kw(c.peek(), "ASK"):
        return ask(statements, text, allow_cartesian=allow_cartesian, n_buckets=n_buckets)
    if _kw(c.peek(), "DESCRIBE"):
        return describe(statements, text, allow_cartesian=allow_cartesian, n_buckets=n_buckets)
    raise SparqlError(
        "only SELECT, CONSTRUCT, ASK, and DESCRIBE query forms are supported"
    )


# ---------------------------------------------------------------------------
# CONSTRUCT
# ---------------------------------------------------------------------------
def _template_term(c: _Cursor, position: str) -> tuple:
    """Template term WITH type info: ("var", name) | ("iri", v) |
    ("lit", lex, dt, lang)."""
    from tripleforge.schema import (
        RDF_LANGSTRING,
        XSD_BOOLEAN,
        XSD_DECIMAL,
        XSD_DOUBLE,
        XSD_INTEGER,
        XSD_STRING,
    )

    kind, val = c.next()
    if kind == "VAR":
        return ("var", val[1:])
    if kind == "IRI":
        return ("iri", c.iri(val[1:-1]))
    if kind == "PNAME":
        ns, _, local = val.partition(":")
        if ns not in c.prefixes:
            raise SparqlError(f"undefined prefix {ns!r}:")
        return ("iri", c.prefixes[ns] + local)
    if kind == "KW" and val == "a":
        return ("iri", RDF_TYPE)
    if kind == "KW" and val in ("true", "false"):
        return ("lit", val, XSD_BOOLEAN, None)
    if kind in ("DQ", "SQ", "LONG_DQ", "LONG_SQ"):
        lex = val[3:-3] if kind.startswith("LONG") else val[1:-1]
        nxt = c.peek()
        if nxt is not None and nxt[0] == "LANG":
            c.next()
            return ("lit", lex, RDF_LANGSTRING, nxt[1][1:].lower())
        if nxt is not None and nxt[0] == "DTSEP":
            c.next()
            k, v = c.next()
            if k == "IRI":
                dt = c.iri(v[1:-1])
            elif k == "PNAME":
                ns, _, local = v.partition(":")
                if ns not in c.prefixes:
                    raise SparqlError(f"undefined prefix {ns!r}:")
                dt = c.prefixes[ns] + local
            else:
                raise SparqlError(f"bad datatype {v!r}")
            return ("lit", lex, dt, None)
        return ("lit", lex, XSD_STRING, None)
    if kind == "INTEGER":
        return ("lit", val, XSD_INTEGER, None)
    if kind == "DECIMAL":
        return ("lit", val, XSD_DECIMAL, None)
    if kind == "DOUBLE":
        return ("lit", val, XSD_DOUBLE, None)
    raise SparqlError(f"bad template {position} term {val!r} (bnodes unsupported)")


def parse_construct(
    text: str,
) -> tuple[list[tuple], list[tuple], int | None]:
    """→ (template triples, UNION groups, limit, dataset clauses)."""
    c = _Cursor(_tokenize(text))
    c.prologue()
    if not _kw(c.peek(), "CONSTRUCT"):
        raise SparqlError("expected CONSTRUCT")
    c.next()
    if _kw(c.peek(), "WHERE") or _kw(c.peek(), "FROM"):
        # CONSTRUCT WHERE { … } shorthand (§16.2.1): the WHERE pattern
        # doubles as the template. The brace block is parsed twice —
        # once as a template (typed terms) and once as the evaluation
        # group — because pattern terms erase literal datatypes while
        # template terms must keep them.
        dataset = _parse_dataset(c)
        if not _kw(c.peek(), "WHERE"):
            raise SparqlError("expected WHERE in CONSTRUCT WHERE")
        where_start = c.i
        c.next()
        if c.next() != ("PUNCT", "{"):
            raise SparqlError("expected '{' after WHERE")
        depth, inner_start = 1, c.i
        while depth:
            tk = c.next()  # raises at end = unterminated block
            if tk == ("PUNCT", "{"):
                depth += 1
            elif tk == ("PUNCT", "}"):
                depth -= 1
        end = c.i
        mods = _parse_modifiers(c)
        if mods["group_by"] or mods["order_by"] or mods["offset"]:
            raise SparqlError("CONSTRUCT supports only the LIMIT modifier")
        tc = _Cursor(c.toks[inner_start : end - 1])
        tc.prefixes = dict(c.prefixes)
        tc.base = c.base
        template = []
        while tc.peek() is not None:
            if tc.peek() == ("PUNCT", "."):
                tc.next()
                continue
            s = _template_term(tc, "subject")
            p = _template_term(tc, "predicate")
            o = _template_term(tc, "object")
            template.append((s, p, o, None))
        if not template:
            raise SparqlError("empty CONSTRUCT WHERE pattern")
        gc = _Cursor(c.toks[where_start:end])
        gc.prefixes = dict(c.prefixes)
        gc.base = c.base
        groups = _parse_group_pattern(gc)
        patterns, gops = groups[0]
        if len(groups) > 1 or gops or any(
            isinstance(pt.p, tuple) or pt.g is not None for pt in patterns
        ):
            raise SparqlError(
                "CONSTRUCT WHERE allows only plain default-graph triple "
                "patterns (no UNION/OPTIONAL/FILTER/GRAPH/paths)"
            )
        return template, groups, mods["limit"], dataset
    if c.next() != ("PUNCT", "{"):
        raise SparqlError("expected '{' after CONSTRUCT")
    template: list[tuple] = []
    while True:
        t = c.peek()
        if t is None:
            raise SparqlError("unterminated CONSTRUCT template")
        if t == ("PUNCT", "}"):
            c.next()
            break
        if t == ("PUNCT", "."):
            c.next()
            continue
        s = _template_term(c, "subject")
        p = _template_term(c, "predicate")
        o = _template_term(c, "object")
        template.append((s, p, o, None))
    if not template:
        raise SparqlError("empty CONSTRUCT template")
    dataset = _parse_dataset(c)
    groups = _parse_group_pattern(c)
    mods = _parse_modifiers(c)
    if mods["group_by"] or mods["order_by"] or mods["offset"]:
        raise SparqlError("CONSTRUCT supports only the LIMIT modifier")
    return template, groups, mods["limit"], dataset


def construct(
    statements: DataFrame,
    text: str,
    allow_cartesian: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """Execute a SPARQL CONSTRUCT string → statement-shaped DataFrame
    (subj, pred, obj, obj_kind, obj_dt, obj_lang, graph). Pair with
    :func:`tripleforge.io.write_ntriples` for serialized output — the
    reference's CONSTRUCT-to-file path."""
    from pyspark.sql import functions as F

    _reset_query_clock()
    template, groups, limit, dataset = parse_construct(text)
    statements, groups, n_buckets = _apply_dataset(
        statements, groups, dataset, n_buckets
    )
    sol = _solutions(
        statements, groups, allow_cartesian=allow_cartesian,
        carry_meta=True, n_buckets=n_buckets,
    )
    if limit is not None:
        sol = sol.limit(limit)
    return _instantiate(sol, template, default_graph=None)


def _xsd_of(dtype) -> str | None:
    """The XSD datatype a typed solution column stands for, or None for
    a string column (a term with its own kind/datatype metadata)."""
    if isinstance(dtype, BooleanType):
        return XSD_BOOLEAN
    if isinstance(dtype, IntegralType):
        return XSD_INTEGER
    if isinstance(dtype, DecimalType):
        return XSD_DECIMAL
    if isinstance(dtype, NumericType):
        return XSD_DOUBLE
    return None


def _instantiate(
    sol: DataFrame, template: list[tuple], default_graph: str | None
) -> DataFrame:
    """Instantiate a (s, p, o, g) template against solution rows →
    statement-shaped DataFrame. Variable objects carry their
    kind/datatype/language from the matched statements (carry_meta);
    a None graph term falls back to ``default_graph`` (WITH <g>)."""
    from pyspark.sql import functions as F

    bound = set(sol.columns)

    def resolve(term: tuple, position: str):
        if term[0] == "var":
            if term[1] not in bound:
                raise SparqlError(f"template variable ?{term[1]} is not bound")
            return F.col(term[1])
        return F.lit(term[1])

    parts = []
    for s, p, o, g in template:
        # a numeric or boolean binding (BIND, COUNT, IF …) is a typed
        # literal: its lexical form with the XSD datatype, which the
        # canonicalizer then brings to canonical form
        xsd = _xsd_of(sol.schema[o[1]].dataType) if o[0] == "var" and o[1] in bound else None
        obj = (
            resolve(o, "object")
            if xsd is None
            else F.regexp_replace(F.col(o[1]).cast("string"), "Infinity", "INF")
        )
        cols = [
            resolve(s, "subject").alias("subj"),
            resolve(p, "predicate").alias("pred"),
            obj.alias("obj"),
        ]
        if xsd is not None:
            cols += [
                F.lit("literal").alias("obj_kind"),
                F.lit(xsd).alias("obj_dt"),
                F.lit(None).cast("string").alias("obj_lang"),
            ]
        elif o[0] == "var":
            v = o[1]
            has_meta = f"{v}__kind" in bound
            cols += [
                (F.coalesce(F.col(f"{v}__kind"), F.lit("iri")) if has_meta else F.lit("iri")).alias("obj_kind"),
                (F.col(f"{v}__dt") if has_meta else F.lit(None).cast("string")).alias("obj_dt"),
                (F.col(f"{v}__lang") if has_meta else F.lit(None).cast("string")).alias("obj_lang"),
            ]
        elif o[0] == "iri":
            cols += [
                F.lit("iri").alias("obj_kind"),
                F.lit(None).cast("string").alias("obj_dt"),
                F.lit(None).cast("string").alias("obj_lang"),
            ]
        else:
            _, _, dt, lang = o
            cols += [
                F.lit("literal").alias("obj_kind"),
                F.lit(dt).alias("obj_dt"),
                (F.lit(lang) if lang else F.lit(None).cast("string")).alias("obj_lang"),
            ]
        if g is not None:
            cols.append(resolve(g, "graph").alias("graph"))
        else:
            cols.append(F.lit(default_graph).cast("string").alias("graph"))
        part = sol.select(*cols)
        # SPARQL: a solution leaving any template term unbound (e.g. an
        # OPTIONAL/UNION variable bound to null) produces NO statement
        part = part.where(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )
        if g is not None and g[0] == "var" and not g[1].startswith("__g"):
            # a user-written GRAPH ?g template var bound to null is an
            # unbound term → no statement; the SYNTHETIC ?__gN binders
            # from _delete_where_compile legitimately carry null = the
            # default graph, which the delete must target
            part = part.where(F.col("graph").isNotNull())
        parts.append(part)
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.dropDuplicates()  # templates yield statement SETS



# Update surface (bottom import: sparql_update lazily imports the
# construct/evaluation helpers above at call time — see its docstring)
from tripleforge.sparql_update import (  # noqa: E402,F401 — re-export
    parse_update,
    _graph_term,
    _parse_template_block,
    _delete_where_compile,
    _is_tvar,
    _IRIREF_AT_RE,
    _split_update_sequence,
    _PROLOGUE_RE,
    execute_update,
    _exec_load,
)
