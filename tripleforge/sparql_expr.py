"""SPARQL 1.1 expression layer (§17) + aggregate compilation (§18.4)
— split out of sparql.py in r4 (VERDICT r3 #6; unchanged public
surface via tripleforge.sparql). Precedence-climbing parser → tuple
AST → Catalyst Column; zero UDFs.
"""

from __future__ import annotations

import re

from tripleforge.sparql_lex import SparqlError, _Cursor, _kw

# ---------------------------------------------------------------------------
# Expression layer (SPARQL 1.1 §17): precedence-climbing parser → tuple
# AST → Catalyst Column. Covers boolean algebra (&& || !), comparisons,
# arithmetic, and the core built-in functions over this engine's
# string-lexical columns; object-term metadata (kind/datatype/lang)
# compiles onto the carry_meta companion columns.
#
# AST nodes: ("var", name) ("num", int|float) ("str", lex) ("iri", iri)
# ("boollit", bool) ("or"/"and", l, r) ("not", e) ("neg", e)
# ("cmp", op, l, r) ("arith", op, l, r) ("fn", NAME, [args])
# ---------------------------------------------------------------------------
_AGG_FNS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")

_CMP_OPS = ("=", "!=", "<", ">", "<=", ">=")

# functions whose compilation reads the carry_meta companion columns
_META_FNS = {
    "LANG", "DATATYPE", "ISIRI", "ISURI", "ISLITERAL", "LANGMATCHES",
    "SAMETERM", "ISNUMERIC",
}

_XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_DTS = {
    _XSD + t
    for t in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte",
    )
}
_FN_NAMES = _META_FNS | {
    "BOUND", "ISBLANK", "STR", "STRLEN", "UCASE", "LCASE", "CONTAINS",
    "STRSTARTS", "STRENDS", "SUBSTR", "REPLACE", "CONCAT", "ABS", "CEIL",
    "FLOOR", "ROUND", "REGEX", "IF", "COALESCE", "STRBEFORE", "STRAFTER",
    "MD5", "SHA1", "SHA256", "SHA384", "SHA512", "ENCODE_FOR_URI",
    # date/time accessors (SPARQL 1.1 §17.4.5) over canonical
    # xsd:dateTime lexicals
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ", "TIMEZONE",
    # term constructors / misc
    "IRI", "URI", "STRLANG", "STRDT", "BNODE",
    # non-deterministic (shape-tested only; no DuckDB oracle possible)
    "NOW", "UUID", "STRUUID", "RAND",
}

# XSD constructor casts (SPARQL 1.1 §17.5 XPath constructor functions):
# xsd:integer(?x) etc. in expression position
_CAST_NUM_INT = {
    _XSD + t for t in ("integer", "long", "int", "short", "byte")
}
_CAST_NUM_REAL = {_XSD + t for t in ("decimal", "double", "float")}
_CAST_TYPES = (
    _CAST_NUM_INT
    | _CAST_NUM_REAL
    | {_XSD + "string", _XSD + "boolean", _XSD + "dateTime"}
)


def _parse_expression(c: _Cursor) -> tuple:
    return _parse_or(c)


def _parse_or(c: _Cursor) -> tuple:
    left = _parse_and(c)
    while c.peek() == ("OP", "||"):
        c.next()
        left = ("or", left, _parse_and(c))
    return left


def _parse_and(c: _Cursor) -> tuple:
    left = _parse_rel(c)
    while c.peek() == ("OP", "&&"):
        c.next()
        left = ("and", left, _parse_rel(c))
    return left


def _parse_rel(c: _Cursor) -> tuple:
    left = _parse_add(c)
    t = c.peek()
    if t is not None and t[0] == "OP" and t[1] in _CMP_OPS:
        op = c.next()[1]
        return ("cmp", op, left, _parse_add(c))
    if _kw(t, "IN") or _kw(t, "NOT"):
        neg = _kw(t, "NOT")
        c.next()
        if neg and not _kw(c.next(), "IN"):
            raise SparqlError("expected IN after NOT in expression")
        if c.next() != ("PUNCT", "("):
            raise SparqlError("expected '(' after IN")
        items: list[tuple] = []
        if c.peek() != ("PUNCT", ")"):
            while True:
                items.append(_parse_expression(c))
                if c.peek() == ("PUNCT", ","):
                    c.next()
                    continue
                break
        if c.next() != ("PUNCT", ")"):
            raise SparqlError("unterminated IN (...)")
        return ("inlist", neg, left, items)
    return left


def _parse_add(c: _Cursor) -> tuple:
    left = _parse_mul(c)
    while True:
        t = c.peek()
        if t is not None and t[0] == "OP" and t[1] in ("+", "-"):
            op = c.next()[1]
            left = ("arith", op, left, _parse_mul(c))
        elif (
            t is not None
            and t[0] in ("INTEGER", "DECIMAL", "DOUBLE")
            and t[1][0] in "+-"
        ):
            # signed literal glued to the left operand (?x -5): the
            # lexer kept the sign with the number, re-interpret as
            # addition of the signed value
            c.next()
            left = ("arith", "+", left, _num_node(t))
        else:
            return left


def _num_node(tok: tuple) -> tuple:
    """A numeric literal token → ``("num", value)``: an INTEGER that
    fits in a long is an int (it evaluates as xsd:integer), every other
    number a float (xsd:double)."""
    kind, lex = tok
    if kind == "INTEGER" and -(1 << 63) <= int(lex) < (1 << 63):
        return ("num", int(lex))
    return ("num", float(lex))


def _parse_mul(c: _Cursor) -> tuple:
    left = _parse_unary(c)
    while True:
        t = c.peek()
        if t is not None and t[0] == "STAR":
            c.next()
            left = ("arith", "*", left, _parse_unary(c))
        elif t == ("OP", "/"):
            c.next()
            left = ("arith", "/", left, _parse_unary(c))
        else:
            return left


def _parse_unary(c: _Cursor) -> tuple:
    t = c.peek()
    if t == ("OP", "!"):
        c.next()
        return ("not", _parse_unary(c))
    if t == ("OP", "-"):
        c.next()
        return ("neg", _parse_unary(c))
    if t == ("OP", "+"):
        c.next()
        return _parse_unary(c)
    return _parse_primary(c)


def _parse_primary(c: _Cursor) -> tuple:
    from tripleforge.canon import normalize_iri_str

    t = c.peek()
    if t is None:
        raise SparqlError("unexpected end of expression")
    if t == ("PUNCT", "("):
        c.next()
        e = _parse_expression(c)
        if c.next() != ("PUNCT", ")"):
            raise SparqlError("unterminated ( expression )")
        return e
    kind, val = t
    if kind == "VAR":
        c.next()
        return ("var", val[1:])
    if kind in ("INTEGER", "DECIMAL", "DOUBLE"):
        c.next()
        return _num_node(t)
    if kind in ("DQ", "SQ", "LONG_DQ", "LONG_SQ"):
        c.next()
        lex = val[3:-3] if kind.startswith("LONG") else val[1:-1]
        nxt = c.peek()
        if nxt is not None and nxt[0] in ("LANG", "DTSEP"):
            # comparison is on the lexical form; consume the suffix
            if nxt[0] == "DTSEP":
                c.next()
                c.next()
            else:
                c.next()
        return ("str", lex)
    if kind == "IRI":
        c.next()
        # IRI constants canonicalize exactly like triple-pattern
        # constants (ADVICE r2: FILTER(?v = <HTTP://EX.ORG/>) must
        # match the store's canonical spelling)
        iri = normalize_iri_str(c.iri(val[1:-1]))
        if iri in _CAST_TYPES and c.peek() == ("PUNCT", "("):
            return _parse_cast(c, iri)
        return ("iri", iri)
    if kind == "PNAME" and ":" in val:
        c.next()
        ns, _, local = val.partition(":")
        if ns not in c.prefixes:
            raise SparqlError(f"undefined prefix {ns!r}:")
        iri = normalize_iri_str(c.prefixes[ns] + local)
        if iri in _CAST_TYPES and c.peek() == ("PUNCT", "("):
            return _parse_cast(c, iri)
        return ("iri", iri)
    if kind == "KW" and val in ("true", "false"):
        c.next()
        return ("boollit", val == "true")
    if kind in ("WORD", "GRAPHKW", "KW", "SPARQL_KW"):
        name = val.upper()
        if name in _AGG_FNS:
            # aggregate call inside an expression — valid in HAVING
            # (compiled to a synthesized aggregate column); rejected at
            # compile time anywhere else
            c.next()
            if c.next() != ("PUNCT", "("):
                raise SparqlError(f"expected '(' after {name}")
            distinct = False
            if _kw(c.peek(), "DISTINCT"):
                c.next()
                distinct = True
            t2 = c.peek()
            if t2 is not None and t2[0] == "STAR":
                c.next()
                arg = "*"
            else:
                tree = _parse_expression(c)
                arg = tree[1] if tree[0] == "var" else tree
            if c.next() != ("PUNCT", ")"):
                raise SparqlError(f"unterminated {name}(...)")
            return ("aggfn", name, arg, distinct)
        if name not in _FN_NAMES:
            raise SparqlError(f"unsupported function {val!r}")
        c.next()
        if c.next() != ("PUNCT", "("):
            raise SparqlError(f"expected '(' after {name}")
        args: list[tuple] = []
        if c.peek() != ("PUNCT", ")"):
            while True:
                args.append(_parse_expression(c))
                if c.peek() == ("PUNCT", ","):
                    c.next()
                    continue
                break
        if c.next() != ("PUNCT", ")"):
            raise SparqlError(f"unterminated {name}(...)")
        return ("fn", name, args)
    raise SparqlError(f"bad expression term {val!r}")


def _parse_cast(c: _Cursor, xsd_iri: str) -> tuple:
    """XPath constructor cast ``xsd:integer(expr)`` — the '(' is the
    lookahead that distinguishes a cast from a plain IRI constant."""
    if c.next() != ("PUNCT", "("):
        raise SparqlError(f"expected '(' after <{xsd_iri}>")
    arg = _parse_expression(c)
    if c.next() != ("PUNCT", ")"):
        raise SparqlError(f"unterminated <{xsd_iri}>(...)")
    return ("cast", xsd_iri, arg)


def _parse_constraint(c: _Cursor) -> tuple:
    """FILTER Constraint := BrackettedExpression | BuiltInCall."""
    if c.peek() == ("PUNCT", "("):
        c.next()
        e = _parse_expression(c)
        if c.next() != ("PUNCT", ")"):
            raise SparqlError("unterminated FILTER (...)")
        return e
    return _parse_primary(c)


def _expr_needs_meta(tree: tuple) -> bool:
    if tree[0] == "fn":
        return tree[1] in _META_FNS or any(_expr_needs_meta(a) for a in tree[2])
    if tree[0] == "cmp" and tree[2][0] == "var" and tree[3][0] == "var":
        # var-vs-var ordering is datatype-aware at runtime (needs __dt)
        return True
    return any(
        _expr_needs_meta(a) for a in tree[1:] if isinstance(a, tuple)
    )


def _ops_need_meta(ops: list[tuple]) -> bool:
    for op in ops:
        if op[0] == "expr" and _expr_needs_meta(op[1]):
            return True
        if op[0] == "bind" and _expr_needs_meta(op[2]):
            return True
        # r5b: nested block op shapes carry their own scoped op lists
        if op[0] in ("minus", "optional") and _ops_need_meta(op[2]):
            return True
        if op[0] == "exists" and _ops_need_meta(op[3]):
            return True
    return False


def _var_col(var: str, bound: set[str]):
    from pyspark.sql import functions as F

    if var not in bound:
        raise SparqlError(f"expression variable ?{var} is not bound")
    return F.col(var)


def _as_str(col, typ):
    return col.cast("string") if typ in ("num", "bool") else col


def _as_num(col, typ):
    return col if typ == "num" else col.cast("double")


def _branches(compiled: list[tuple]) -> tuple[list, str]:
    """The compiled branches of IF / COALESCE → (columns, type tag):
    their one shared tag, else "term" with every numeric branch a
    double, so Spark widens a term branch to double as well ("19.99"
    casts to a double, not to a long)."""
    typs = {t for _, t in compiled}
    if len(typs) == 1:
        return [c for c, _ in compiled], typs.pop()
    return [c.cast("double") if t == "num" else c for c, t in compiled], "term"


def _as_bool(col, typ):
    if typ == "bool":
        return col
    raise SparqlError(
        "logical operators need boolean operands (comparison, regex(), "
        "bound(), …) — bare terms have no effective-boolean-value here"
    )


def _compile_expr(tree: tuple, bound: set[str]):
    """AST → (Catalyst Column, type tag ∈ num|str|iri|bool|term): ``str``
    is a string literal's lexical form, ``iri`` an IRI's; both are
    string columns."""
    from pyspark.sql import functions as F

    kind = tree[0]
    if kind == "var":
        return _var_col(tree[1], bound), "term"
    if kind == "unbound":
        # substituted outer-variable reference inside an OPTIONAL-scoped
        # BIND (strict bottom-up scope, sparql._substitute_unbound):
        # evaluates as null, propagating SPARQL's error→unbound
        return F.lit(None).cast("string"), "term"
    if kind == "num":
        v = tree[1]
        # an integer is a long whatever its size, so integer arithmetic
        # never overflows a 32-bit int
        return (F.lit(v).cast("long") if isinstance(v, int) else F.lit(v)), "num"
    if kind in ("str", "iri"):
        return F.lit(tree[1]), kind
    if kind == "boollit":
        return F.lit(tree[1]), "bool"
    if kind == "or":
        lc, lt = _compile_expr(tree[1], bound)
        rc, rt = _compile_expr(tree[2], bound)
        return _as_bool(lc, lt) | _as_bool(rc, rt), "bool"
    if kind == "and":
        lc, lt = _compile_expr(tree[1], bound)
        rc, rt = _compile_expr(tree[2], bound)
        return _as_bool(lc, lt) & _as_bool(rc, rt), "bool"
    if kind == "not":
        ec, et = _compile_expr(tree[1], bound)
        return ~_as_bool(ec, et), "bool"
    if kind == "neg":
        ec, et = _compile_expr(tree[1], bound)
        # × -1 negates a double exactly; an integer past a long is
        # null (unbound), as in binary arithmetic
        return F.try_multiply(_as_num(ec, et), F.lit(-1)), "num"
    if kind == "arith":
        _, op, l, r = tree
        lc, lt = _compile_expr(l, bound)
        rc, rt = _compile_expr(r, bound)
        lc, rc = _as_num(lc, lt), _as_num(rc, rt)
        if op == "/":
            return lc / rc, "num"
        # integer arithmetic past a long is an expression error (null,
        # so unbound), not a failed query
        fns = {"+": F.try_add, "-": F.try_subtract, "*": F.try_multiply}
        return fns[op](lc, rc), "num"
    if kind == "inlist":
        # ?v IN (a, b, …) ≡ (?v = a) || (?v = b) …; NOT IN ≡ the
        # conjunction of != — each equality reuses cmp's type coercion,
        # and Catalyst folds the OR-of-equalities into an In predicate
        _, neg, left, items = tree
        if not items:
            return F.lit(bool(neg)), "bool"
        sub = "!=" if neg else "="
        cols = [
            _as_bool(*_compile_expr(("cmp", sub, left, it), bound))
            for it in items
        ]
        out = cols[0]
        for col in cols[1:]:
            out = (out & col) if neg else (out | col)
        return out, "bool"
    if kind == "cmp":
        _, op, l, r = tree
        lc, lt = _compile_expr(l, bound)
        rc, rt = _compile_expr(r, bound)
        if "num" in (lt, rt):
            lc, rc = _as_num(lc, lt), _as_num(rc, rt)
        elif "bool" in (lt, rt):
            # a boolean literal compares against the store's canonical
            # xsd:boolean lexical form
            lc = lc.cast("string") if lt == "bool" else lc
            rc = rc.cast("string") if rt == "bool" else rc
        elif l[0] == "var" and r[0] == "var":
            # var-vs-var: datatype-aware at runtime — two numeric-typed
            # literals compare by VALUE ("9" < "10"), everything else by
            # canonical lexical (IRIs; xsd:dateTime's canonical Z form
            # is lexicographically value-ordered already)
            ldt, rdt = f"{l[1]}__dt", f"{r[1]}__dt"
            if ldt in bound and rdt in bound and op not in ("=", "!="):
                num = F.lit(sorted(_NUMERIC_DTS))
                both_num = F.array_contains(num, F.col(ldt)) & F.array_contains(
                    num, F.col(rdt)
                )
                nfns = {
                    "<": lc.cast("double").__lt__, ">": lc.cast("double").__gt__,
                    "<=": lc.cast("double").__le__, ">=": lc.cast("double").__ge__,
                }
                sfns = {
                    "<": lc.__lt__, ">": lc.__gt__,
                    "<=": lc.__le__, ">=": lc.__ge__,
                }
                return (
                    F.when(both_num, nfns[op](rc.cast("double"))).otherwise(
                        sfns[op](rc)
                    ),
                    "bool",
                )
        fns = {
            "=": lc.__eq__, "!=": lc.__ne__, "<": lc.__lt__,
            ">": lc.__gt__, "<=": lc.__le__, ">=": lc.__ge__,
        }
        return fns[op](rc), "bool"
    if kind == "cast":
        _, dt, arg = tree
        ec, et = _compile_expr(arg, bound)
        if dt in _CAST_NUM_INT:
            # XPath casting to integer truncates toward zero
            return _as_num(ec, et).cast("long").cast("double"), "num"
        if dt in _CAST_NUM_REAL:
            return _as_num(ec, et), "num"
        if dt == _XSD + "boolean":
            if et == "bool":
                return ec, "bool"
            if et == "num":
                return ec != F.lit(0.0), "bool"
            s = _as_str(ec, et)
            return (
                F.when(s.isin("true", "1"), F.lit(True))
                .when(s.isin("false", "0"), F.lit(False))
                .otherwise(F.lit(None).cast("boolean")),
                "bool",
            )
        # xsd:string / xsd:dateTime: lexical pass-through (dateTime
        # lexicals are stored canonically, so equality/order hold)
        return _as_str(ec, et), "str"
    if kind == "fn":
        return _compile_fn(tree[1], tree[2], bound)
    if kind == "aggfn":
        raise SparqlError(
            "aggregate calls are only allowed in SELECT projections "
            "and HAVING"
        )
    raise SparqlError(f"cannot compile expression node {kind!r}")


# per-query NOW() value (SPARQL §17.4.5.1: one timestamp per query);
# reset by every top-level entrypoint, captured lazily on first NOW()
_QUERY_NOW: list = [None]


def _reset_query_clock() -> None:
    _QUERY_NOW[0] = None


def _fn_arity(name: str, args: list, lo: int, hi: int | None = None) -> None:
    hi = lo if hi is None else hi
    if not (lo <= len(args) <= hi):
        raise SparqlError(f"{name}() takes {lo}..{hi} arguments, got {len(args)}")


def _meta_col(args: list[tuple], fn: str, suffix: str, bound: set[str]):
    """The carry_meta companion column of a variable argument, or None
    when the variable was bound in a non-object position (where every
    term is an IRI by construction — subjects/predicates/graphs)."""
    from pyspark.sql import functions as F

    if not args or args[0][0] != "var":
        raise SparqlError(f"{fn}() needs a variable argument")
    v = args[0][1]
    _var_col(v, bound)  # bound-ness check
    name = f"{v}__{suffix}"
    return F.col(name) if name in bound else None


def _compile_fn(name: str, args: list[tuple], bound: set[str]):
    from pyspark.sql import functions as F

    if name == "BOUND":
        _fn_arity(name, args, 1)
        if args[0][0] != "var":
            raise SparqlError("BOUND() needs a variable")
        return _var_col(args[0][1], bound).isNotNull(), "bool"
    if name == "STR":
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        return _as_str(c, t), "str"
    if name == "LANG":
        _fn_arity(name, args, 1)
        mc = _meta_col(args, name, "lang", bound)
        # SPARQL: LANG of a plain/typed literal (or IRI) is ""
        return (F.coalesce(mc, F.lit("")) if mc is not None else F.lit("")), "str"
    if name == "LANGMATCHES":
        _fn_arity(name, args, 2)
        lc, lt = _compile_expr(args[0], bound)
        if args[1][0] != "str":
            raise SparqlError("LANGMATCHES() range must be a string literal")
        rng = args[1][1].lower()
        lang = F.lower(_as_str(lc, lt))
        if rng == "*":
            return lang != F.lit(""), "bool"
        return (lang == F.lit(rng)) | lang.startswith(rng + "-"), "bool"
    if name == "DATATYPE":
        _fn_arity(name, args, 1)
        mc = _meta_col(args, name, "dt", bound)
        if mc is None:
            return F.lit(None).cast("string"), "iri"
        return mc, "iri"
    if name in ("ISIRI", "ISURI"):
        _fn_arity(name, args, 1)
        mc = _meta_col(args, name, "kind", bound)
        val = _var_col(args[0][1], bound)
        skolem = val.startswith("urn:skolem:")
        if mc is None:  # non-object position: IRI unless a skolem bnode
            return ~skolem, "bool"
        return (mc == F.lit("iri")) & ~skolem, "bool"
    if name == "ISLITERAL":
        _fn_arity(name, args, 1)
        mc = _meta_col(args, name, "kind", bound)
        if mc is None:
            return F.lit(False), "bool"
        return mc == F.lit("literal"), "bool"
    if name == "ISBLANK":
        _fn_arity(name, args, 1)
        if args[0][0] != "var":
            raise SparqlError("isBlank() needs a variable")
        # blank nodes are deterministically skolemized at parse time
        # (A10) — a skolem IRI is this engine's blank-node identity
        return _var_col(args[0][1], bound).startswith("urn:skolem:"), "bool"
    if name == "STRLEN":
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        return F.length(_as_str(c, t)), "num"
    if name in ("UCASE", "LCASE"):
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        fn = F.upper if name == "UCASE" else F.lower
        return fn(_as_str(c, t)), "str"
    if name in ("CONTAINS", "STRSTARTS", "STRENDS", "STRBEFORE", "STRAFTER"):
        _fn_arity(name, args, 2)
        lc, lt = _compile_expr(args[0], bound)
        rc, rt = _compile_expr(args[1], bound)
        ls, rs = _as_str(lc, lt), _as_str(rc, rt)
        if name == "CONTAINS":
            return ls.contains(rs), "bool"
        if name == "STRSTARTS":
            return ls.startswith(rs), "bool"
        if name == "STRENDS":
            return ls.endswith(rs), "bool"
        # SPARQL: STRBEFORE/STRAFTER of an absent separator is "";
        # substring_index needs a plain-string delimiter
        if args[1][0] != "str":
            raise SparqlError(f"{name}() separator must be a string literal")
        sep = args[1][1]
        found = ls.contains(F.lit(sep))
        if name == "STRBEFORE":
            return F.when(found, F.substring_index(ls, sep, 1)).otherwise(F.lit("")), "str"
        after = F.substr(
            ls, F.length(F.substring_index(ls, sep, 1)) + F.lit(len(sep) + 1)
        )
        return F.when(found, after).otherwise(F.lit("")), "str"
    if name == "SUBSTR":
        _fn_arity(name, args, 2, 3)
        c, t = _compile_expr(args[0], bound)
        start_c, start_t = _compile_expr(args[1], bound)
        start = _as_num(start_c, start_t).cast("int")
        if len(args) == 3:
            ln_c, ln_t = _compile_expr(args[2], bound)
            return F.substr(_as_str(c, t), start, _as_num(ln_c, ln_t).cast("int")), "str"
        return F.substr(_as_str(c, t), start), "str"
    if name == "REPLACE":
        _fn_arity(name, args, 3, 4)
        c, t = _compile_expr(args[0], bound)
        if args[1][0] != "str" or args[2][0] != "str":
            raise SparqlError("REPLACE() pattern/replacement must be string literals")
        pat = args[1][1]
        if len(args) == 4 and args[3][0] == "str" and "i" in args[3][1]:
            pat = "(?i)" + pat
        return F.regexp_replace(_as_str(c, t), pat, args[2][1]), "str"
    if name == "CONCAT":
        if not args:
            raise SparqlError("CONCAT() needs arguments")
        cols = [_as_str(*_compile_expr(a, bound)) for a in args]
        return F.concat(*cols), "str"
    if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        fn = {"ABS": F.abs, "CEIL": F.ceil, "FLOOR": F.floor, "ROUND": F.round}[name]
        return fn(_as_num(c, t)), "num"
    if name == "REGEX":
        _fn_arity(name, args, 2, 3)
        c, t = _compile_expr(args[0], bound)
        if args[1][0] != "str":
            raise SparqlError("regex() pattern must be a string literal")
        pat = args[1][1]
        if len(args) == 3:
            if args[2][0] != "str":
                raise SparqlError("regex() flags must be a string literal")
            if "i" in args[2][1]:
                pat = "(?i)" + pat
        return _as_str(c, t).rlike(pat), "bool"
    if name == "IF":
        _fn_arity(name, args, 3)
        cc, ct = _compile_expr(args[0], bound)
        ac, at_ = _compile_expr(args[1], bound)
        bc, bt = _compile_expr(args[2], bound)
        (ac, bc), typ = _branches([(ac, at_), (bc, bt)])
        return F.when(_as_bool(cc, ct), ac).otherwise(bc), typ
    if name in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        s = _as_str(c, t)
        if name == "MD5":
            return F.md5(s.cast("binary")), "str"
        if name == "SHA1":
            return F.sha1(s.cast("binary")), "str"
        return F.sha2(s.cast("binary"), int(name[3:])), "str"
    if name == "ENCODE_FOR_URI":
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        # SPARQL ENCODE_FOR_URI = fn:encode-for-uri: escape everything
        # except [A-Za-z0-9] - _ . ~ ; url_encode (form-encoding)
        # differs only on space ('+' vs '%20'), '*' (left raw) and '~'
        # (escaped)
        enc = F.url_encode(_as_str(c, t))
        enc = F.replace(enc, F.lit("+"), F.lit("%20"))
        enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
        enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
        return enc, "str"
    if name == "COALESCE":
        if not args:
            raise SparqlError("COALESCE() needs arguments")
        cols, typ = _branches([_compile_expr(a, bound) for a in args])
        return F.coalesce(*cols), typ
    if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
        # accessors over the store's canonical xsd:dateTime lexical
        # (canon._canon_datetime: UTC Z, trimmed fraction; tz-less
        # stays as written) — regexp_extract of a non-match is "",
        # which casts to null = SPARQL type error
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        s = _as_str(c, t)
        pats = {
            "YEAR": r"^(-?\d{4,})-",
            "MONTH": r"^-?\d{4,}-(\d{2})-",
            "DAY": r"^-?\d{4,}-\d{2}-(\d{2})",
            "HOURS": r"T(\d{2}):",
            "MINUTES": r"T\d{2}:(\d{2}):",
            "SECONDS": r"T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
        }
        col = F.regexp_extract(s, pats[name], 1)
        return col.cast("double" if name == "SECONDS" else "int"), "num"
    if name in ("TZ", "TIMEZONE"):
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        tz = F.regexp_extract(_as_str(c, t), r"(Z|[+-]\d{2}:\d{2})$", 1)
        if name == "TZ":
            return tz, "str"
        # TIMEZONE → xsd:dayTimeDuration lexical; absent tz → null
        # (SPARQL type error)
        hh = F.regexp_extract(tz, r"[+-](\d{2}):\d{2}", 1).cast("int")
        mm = F.regexp_extract(tz, r"[+-]\d{2}:(\d{2})", 1).cast("int")
        sign = F.when(tz.startswith("-"), F.lit("-")).otherwise(F.lit(""))
        dur = F.when((hh == 0) & (mm == 0), F.lit("PT0S")).otherwise(
            F.concat(
                sign,
                F.lit("PT"),
                F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H"))).otherwise(F.lit("")),
                F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(F.lit("")),
            )
        )
        return (
            F.when(tz == "Z", F.lit("PT0S"))
            .when(tz == "", F.lit(None).cast("string"))
            .otherwise(dur),
            "str",
        )
    if name in ("IRI", "URI"):
        # constants were canonicalized at parse time; a computed value
        # passes through lexically (no base resolution at runtime)
        _fn_arity(name, args, 1)
        c, t = _compile_expr(args[0], bound)
        return _as_str(c, t), "iri"
    if name in ("STRLANG", "STRDT"):
        # constructed-literal value (lexical column); when this call is
        # the TOP level of a BIND, sparql._bind_column additionally
        # materializes the variable's companion metadata so downstream
        # LANG()/DATATYPE()/isLiteral() see the constructed tag (r4)
        _fn_arity(name, args, 2)
        c, t = _compile_expr(args[0], bound)
        return _as_str(c, t), "str"
    if name == "SAMETERM":
        _fn_arity(name, args, 2)
        lc, lt = _compile_expr(args[0], bound)
        rc, rt = _compile_expr(args[1], bound)
        cond = _as_str(lc, lt).eqNullSafe(_as_str(rc, rt))
        if args[0][0] == "var" and args[1][0] == "var":
            # identical term = identical value AND identical
            # kind/datatype/lang; a variable bound in a non-object
            # position is an IRI by construction
            for suffix, dflt in (("kind", "iri"), ("dt", None), ("lang", None)):
                ln = f"{args[0][1]}__{suffix}"
                rn = f"{args[1][1]}__{suffix}"
                lcol = F.col(ln) if ln in bound else F.lit(dflt).cast("string")
                rcol = F.col(rn) if rn in bound else F.lit(dflt).cast("string")
                cond = cond & lcol.eqNullSafe(rcol)
        return cond, "bool"
    if name == "ISNUMERIC":
        _fn_arity(name, args, 1)
        kc = _meta_col(args, name, "kind", bound)
        if kc is None:
            return F.lit(False), "bool"
        v = args[0][1]
        dt = F.col(f"{v}__dt") if f"{v}__dt" in bound else F.lit(None).cast("string")
        return (kc == F.lit("literal")) & dt.isin(sorted(_NUMERIC_DTS)), "bool"
    if name == "BNODE":
        # fresh blank node per solution row; blank nodes are skolem
        # IRIs in this engine (A10)
        _fn_arity(name, args, 0)
        return F.concat(F.lit("urn:skolem:bnode:"), F.expr("uuid()")), "iri"
    if name == "NOW":
        # fixed for the whole query (SPARQL 1.1 §17.4.5.1): captured on
        # the FIRST NOW() of a query compile and reused for every other
        # occurrence (ADVICE r3: per-call-site capture could straddle a
        # second boundary); top-level entrypoints reset the clock
        _fn_arity(name, args, 0)
        from datetime import datetime, timezone

        if _QUERY_NOW[0] is None:
            _QUERY_NOW[0] = datetime.now(timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
        return F.lit(_QUERY_NOW[0]), "str"
    if name == "UUID":
        _fn_arity(name, args, 0)
        return F.concat(F.lit("urn:uuid:"), F.expr("uuid()")), "iri"
    if name == "STRUUID":
        _fn_arity(name, args, 0)
        return F.expr("uuid()"), "str"
    if name == "RAND":
        _fn_arity(name, args, 0)
        return F.rand(), "num"
    raise SparqlError(f"unsupported function {name}()")


def _compile_filter(spec: tuple, bound: set[str]):
    """Compile one group-pattern op to a boolean Column. Forms:
    ("expr", tree) — the full expression layer;
    ("in", var, values) — VALUES;
    ("cmp", var, op, value, numeric) — legacy internal form kept for
    synthesized constraints (DELETE WHERE constant rebinding)."""
    from pyspark.sql import functions as F

    if spec[0] == "expr":
        col, typ = _compile_expr(spec[1], bound)
        return _as_bool(col, typ)
    var = spec[1]
    if var not in bound:
        raise SparqlError(f"FILTER variable ?{var} is not bound")
    if spec[0] == "in":  # VALUES ?v { ... }
        return F.col(var).isin(spec[2])
    _, _, op, val, numeric = spec
    col = F.col(var).cast("double") if numeric else F.col(var)
    ops = {
        "=": col.__eq__,
        "!=": col.__ne__,
        "<": col.__lt__,
        ">": col.__gt__,
        "<=": col.__le__,
        ">=": col.__ge__,
    }
    if op not in ops:
        raise SparqlError(f"unsupported FILTER operator {op!r}")
    return ops[op](F.lit(val))



def _compile_agg(item: tuple, bound: set[str] | None = None):
    from pyspark.sql import functions as F

    _, fn, arg, distinct, alias, sep = (*item, " ")[:6]
    if isinstance(arg, tuple):
        # expression argument compiled over the pre-aggregate solution
        col, typ = _compile_expr(arg, bound or set())
        num_col = col if typ == "num" else col.cast("double")
        if fn in ("MIN", "MAX") and typ != "num":
            # a string-typed expression orders lexically — casting it
            # to double would throw under ANSI mode
            num_col = col
    elif arg == "*":
        col = num_col = None
    else:
        col = F.col(arg)
        num_col = col.cast("double")
    if fn == "COUNT":
        if col is None:
            expr = F.count(F.lit(1))
        elif distinct:
            expr = F.count_distinct(col)
        else:
            expr = F.count(col)
        return expr.alias(alias)
    if fn == "SAMPLE":
        # SPARQL SAMPLE = any value of the group; min is a valid and
        # DETERMINISTIC sample (F.first varies with partitioning)
        return F.min(col).alias(alias)
    if fn == "GROUP_CONCAT":
        vals = F.collect_set(col) if distinct else F.collect_list(col)
        # SPARQL leaves concatenation order undefined; sorting makes the
        # result partitioning-invariant (deterministic across runs)
        return F.array_join(F.array_sort(vals), sep).alias(alias)
    if distinct and fn == "SUM":
        return F.sum_distinct(num_col).alias(alias)
    if distinct and fn == "AVG":
        # AVG(DISTINCT x) = SUM(DISTINCT x) / COUNT(DISTINCT x);
        # try_divide yields NULL for the empty group exactly like AVG
        return F.try_divide(
            F.sum_distinct(num_col), F.count_distinct(num_col)
        ).alias(alias)
    # MIN/MAX: DISTINCT is the identity (SPARQL 1.1 §18.4.1 set
    # semantics change nothing for extrema) — compile as plain
    fns = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}
    return fns[fn](num_col).alias(alias)


def _extract_having_aggs(tree: tuple, acc: list[tuple]) -> tuple:
    """Rewrite aggregate calls inside a HAVING expression into
    references to synthesized aggregate columns (computed alongside
    the projected aggregates, dropped by the final projection)."""
    if not isinstance(tree, tuple):
        return tree
    if tree[0] == "aggfn":
        _, fn, arg, distinct = tree
        alias = f"__hagg{len(acc)}"
        acc.append(("agg", fn, arg, distinct, alias, " "))
        return ("var", alias)
    out = [tree[0]]
    for a in tree[1:]:
        if isinstance(a, tuple):
            out.append(_extract_having_aggs(a, acc))
        elif isinstance(a, list):
            out.append([_extract_having_aggs(x, acc) for x in a])
        else:
            out.append(a)
    return tuple(out)


